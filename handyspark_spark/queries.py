"""Driver-facing query catalog: every implemented operator exposed as a
(spark_query, oracle_sql) pair over the TESTDATA tables.

Conventions (driver contract, see __spark_entry__.py):
- each Spark callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased IDENTICALLY in Spark and SQL;
- floating aggregates are rounded on both sides so IEEE accumulation-order
  noise cannot flip the driver's value hash;
- approximate algorithms (GK percentile, HLL) are exercised with their
  ``exact=`` switch here — approx variants are covered by pytest
  tolerance tests instead (SURVEY.md §6 approach).
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .core.frame import toHandy
from .operators import agg as A
from .operators.strata import Bucket
from .sources.loader import load_table

QUERIES = {}
ORACLE = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


def _t(spark, sf_dir, name) -> DataFrame:
    """Base-table access with a per-session PLAN-HANDLE memo.

    ``spark.read.parquet`` re-runs file listing + parquet footer schema
    inference on every call (~90 ms at sf0.1, and a driver-side listing
    job at real table sizes — guide §6/§7.3); with 217 ``_t`` call
    sites over 161 queries that re-inference alone was ~25 s of the
    sf0.1 suite, paid INSIDE every timed query. The memo stores the
    LAZY DataFrame handle per (session, dir, table) — the unresolved
    plan only, exactly what a catalog's ``spark.table()`` would cache.
    No data and no results are memoized: every action still scans the
    parquet inputs. Keyed on the live SparkSession object (attribute,
    not module global) so a new session never sees another session's
    plans and a stopped session's handles die with it.

    ASSUMPTION: table directories under ``sf_dir`` are immutable for
    the session's lifetime (true for this engine — nothing writes into
    ``sf_dir``). The memoized handle pins the file listing and schema
    captured at first load; a directory rewritten or appended mid-
    session would be served stale. Call ``_t_invalidate(spark)`` after
    any external mutation to drop the memo.
    """
    try:
        memo = spark._hsq_table_plans
    except AttributeError:
        memo = spark._hsq_table_plans = {}
    df = memo.get((sf_dir, name))
    if df is None:
        memo[(sf_dir, name)] = df = load_table(spark, sf_dir, name)
    return df


def _local(spark, schema: str, **cols) -> DataFrame:
    """Driver-computed result columns as a frame. An Arrow table enters
    Spark as a local relation: no pickled RDD, no Python worker."""
    return spark.createDataFrame(pa.table(cols), schema)


def _t_invalidate(spark) -> None:
    """Drop ``_t``'s plan memo (all dirs/tables) for this session. Only
    needed if a table directory was rewritten mid-session — see the
    immutability assumption in ``_t``."""
    try:
        spark._hsq_table_plans.clear()
    except AttributeError:
        pass


# ---------------------------------------------------------------------------
# Aggregation core (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

@query("value_counts", """
SELECT l_returnflag, COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag
""")
def q_value_counts(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return (A.value_counts_plan(df, ["l_returnflag"])
            .withColumnRenamed("count", "cnt"))


@query("agg_moments", """
SELECT l_returnflag,
       ROUND(AVG(l_extendedprice), 2) AS mean_price,
       MIN(l_extendedprice)           AS min_price,
       MAX(l_extendedprice)           AS max_price,
       ROUND(STDDEV_SAMP(l_extendedprice), 2) AS std_price,
       COUNT(*)                       AS cnt
FROM lineitem GROUP BY l_returnflag
""")
def q_agg_moments(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return A.summary_plan(df, [
        F.round(F.mean("l_extendedprice"), 2).alias("mean_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.round(F.stddev("l_extendedprice"), 2).alias("std_price"),
        F.count(F.lit(1)).alias("cnt"),
    ], ["l_returnflag"])


@query("percentiles_exact", """
SELECT ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS med_price,
       ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS q3_price,
       ROUND(quantile_cont(l_quantity, 0.50), 4)      AS med_qty
FROM lineitem
""")
def q_percentiles_exact(spark, sf_dir):
    """Exact type-7 quantiles of two columns in one lazy plan
    (``exact_quantiles_plan``): one selection-by-rank branch per
    column, each scanning only its own parquet column, cross-joined
    into one row of arrays."""
    df = _t(spark, sf_dir, "lineitem")
    p = A.exact_quantiles_plan(df, {"l_extendedprice": [0.25, 0.50, 0.75],
                                    "l_quantity": [0.50]})
    return p.select(
        F.round(F.col("l_extendedprice")[0], 4).alias("q1_price"),
        F.round(F.col("l_extendedprice")[1], 4).alias("med_price"),
        F.round(F.col("l_extendedprice")[2], 4).alias("q3_price"),
        F.round(F.col("l_quantity")[0], 4).alias("med_qty"))


@query("nunique_exact", """
SELECT COUNT(DISTINCT l_orderkey)   AS nu_orderkey,
       COUNT(DISTINCT l_partkey)    AS nu_partkey,
       COUNT(DISTINCT l_returnflag) AS nu_returnflag
FROM lineitem
""")
def q_nunique_exact(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return A.summary_plan(df, [
        F.count_distinct(F.col("l_orderkey")).alias("nu_orderkey"),
        F.count_distinct(F.col("l_partkey")).alias("nu_partkey"),
        F.count_distinct(F.col("l_returnflag")).alias("nu_returnflag"),
    ])


@query("mode", """
SELECT o_orderpriority AS mode_priority FROM (
  SELECT o_orderpriority,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, o_orderpriority ASC)
           AS rn
  FROM orders GROUP BY o_orderpriority
) WHERE rn = 1
""")
def q_mode(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return (A.mode_plan(df, "o_orderpriority")
            .withColumnRenamed("o_orderpriority", "mode_priority"))


@query("isnull_counts", """
SELECT CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_qty,
       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_flag,
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_ship
FROM lineitem
""")
def q_isnull_counts(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    out = A.isnull_plan(df, ["l_quantity", "l_returnflag", "l_shipdate"])
    return out.select(F.col("l_quantity").alias("null_qty"),
                      F.col("l_returnflag").alias("null_flag"),
                      F.col("l_shipdate").alias("null_ship"))


@query("entropy", """
WITH c AS (
  SELECT l_returnflag AS v, COUNT(*) AS n FROM lineitem GROUP BY 1
), tot AS (SELECT SUM(n) AS n FROM c)
SELECT 'l_returnflag' AS colname,
       ROUND(SUM(-(c.n * 1.0 / tot.n) * LOG2(c.n * 1.0 / tot.n)), 6)
         AS entropy
FROM c, tot
""")
def q_entropy(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    out = A.entropy_plan(df, ["l_returnflag"])
    return out.select("colname", F.round("entropy", 6).alias("entropy"))


@query("mutual_info", """
WITH j AS (
  SELECT l_returnflag x, l_linestatus y, COUNT(*) nxy
  FROM lineitem GROUP BY 1, 2
), mx AS (SELECT l_returnflag x, COUNT(*) nx FROM lineitem
          WHERE l_linestatus IS NOT NULL GROUP BY 1),
   my AS (SELECT l_linestatus y, COUNT(*) ny FROM lineitem
          WHERE l_returnflag IS NOT NULL GROUP BY 1),
   t AS (SELECT COUNT(*) n FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL)
SELECT ROUND(SUM((nxy * 1.0 / n) * LOG2(nxy * 1.0 * n / (nx * 1.0 * ny))), 6)
         AS mutual_info
FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
""")
def q_mutual_info(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    out = A.mutual_info_plan(df, "l_returnflag", "l_linestatus")
    return out.select(F.round("mutual_info", 6).alias("mutual_info"))


@query("corr_matrix", """
SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount',
       ROUND(CORR(l_quantity, l_discount), 6) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount',
       ROUND(CORR(l_extendedprice, l_discount), 6) FROM lineitem
""")
def q_corr_matrix(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    out = A.corr_plan(df, ["l_quantity", "l_extendedprice", "l_discount"])
    return (out.filter(F.col("col_x") != F.col("col_y"))
               .select("col_x", "col_y",
                       F.round("corr", 6).alias("corr")))


# ---------------------------------------------------------------------------
# Stratified aggregation (SURVEY.md §2.6) — single grouped job
# ---------------------------------------------------------------------------

@query("strat_mean", """
SELECT l_returnflag, l_linestatus,
       ROUND(AVG(l_extendedprice), 2) AS mean_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def q_strat_mean(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return A.summary_plan(
        df, [F.round(F.mean("l_extendedprice"), 2).alias("mean_price")],
        ["l_returnflag", "l_linestatus"])


@query("strat_median", """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS med_price
FROM lineitem GROUP BY l_returnflag
""")
def q_strat_median(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return A.summary_plan(
        df, [F.round(A.percentile_expr("l_extendedprice", 0.5, exact=True), 4)
             .alias("med_price")], ["l_returnflag"])


@query("strat_value_counts", """
SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def q_strat_value_counts(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return (A.value_counts_plan(df, ["l_linestatus"], ["l_returnflag"])
            .withColumnRenamed("count", "cnt"))


@query("bucket_counts", """
WITH mm AS (
  SELECT MIN(o_totalprice) mn, MAX(o_totalprice) mx FROM orders
)
SELECT CAST(LEAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 5)), 4) AS INT)
         AS bucket,
       COUNT(*) AS cnt
FROM orders, mm GROUP BY 1
""")
def q_bucket_counts(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    b = Bucket("o_totalprice", 5)
    b._fit(df)
    return (df.withColumn("bucket", b._col())
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))


# ---------------------------------------------------------------------------
# Fitted transforms: fill / fence (SURVEY.md §2.2, §3.4)
# ---------------------------------------------------------------------------

@query("fill_mean", """
WITH src AS (
  SELECT l_returnflag, NULLIF(l_discount, 0.0) AS d FROM lineitem
), m AS (SELECT AVG(d) AS mu FROM src)
SELECT l_returnflag,
       -- 1e-8-grid units summed exactly (HUGEINT), cent rounding in
       -- integer arithmetic, one final <= 2^53 double conversion
       ((SUM(CAST(ROUND(COALESCE(d, mu) * 100000000) AS BIGINT))
         + 500000) // 1000000)::DOUBLE / 100 AS sum_disc,
       COUNT(*) AS cnt
FROM src, m GROUP BY l_returnflag
""")
def q_fill_mean(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    hdf = toHandy(df.select(
        "l_returnflag",
        F.when(F.col("l_discount") == 0.0, None)
         .otherwise(F.col("l_discount")).alias("d")))
    filled = hdf.fill(continuous=["d"], strategy="mean")
    # term-snap to the 1e-8 integer grid + split-accumulator grid_sum
    # (operators/agg.py): exact at any accumulation order like the old
    # DECIMAL(18,8) form, ~1.3x cheaper (native long aggregation)
    return A.summary_plan(filled._df, [
        F.round(A.grid_sum(A.grid_units(F.col("d"), 100_000_000),
                           100_000_000), 2)
         .cast("double").alias("sum_disc"),
        F.count(F.lit(1)).alias("cnt")], ["l_returnflag"])


@query("fence_sum", """
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.25) q1,
         quantile_cont(l_extendedprice, 0.75) q3
  FROM lineitem
)
SELECT l_returnflag,
       -- 1e-6-grid units summed exactly (HUGEINT), cent rounding in
       -- integer arithmetic, one final <= 2^53 double conversion
       ((SUM(CAST(ROUND(GREATEST(q1 - 1.5 * (q3 - q1),
             LEAST(q3 + 1.5 * (q3 - q1), l_extendedprice))
             * 1000000) AS BIGINT)) + 5000) // 10000)::DOUBLE / 100
         AS sum_fenced
FROM lineitem, q GROUP BY l_returnflag
""")
def q_fence_sum(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    fenced = toHandy(df).fence(["l_extendedprice"], exact=True)
    # the fenced value is a double (clamped at double-typed Tukey
    # fences, identical on both engines); summing doubles is
    # accumulation-order dependent and flipped rounded cents at sf10 —
    # each term snaps to the 1e-6 integer grid (round(x*1e6): the SAME
    # double rounds the same way on both engines) and the sum is the
    # exact split-accumulator grid_sum, ~2x cheaper than the previous
    # per-term DECIMAL(18,6) aggregation
    return A.summary_plan(fenced._df, [
        F.round(A.grid_sum(A.grid_units(F.col("l_extendedprice"),
                                        1_000_000), 1_000_000), 2)
         .cast("double").alias("sum_fenced")],
        ["l_returnflag"])


@query("outliers_tukey", """
WITH q AS (
  SELECT quantile_cont(l_extendedprice, 0.25) q1,
         quantile_cont(l_extendedprice, 0.75) q3
  FROM lineitem
)
SELECT CAST(SUM(CASE WHEN l_extendedprice < q1 - 1.5 * (q3 - q1)
                       OR l_extendedprice > q3 + 1.5 * (q3 - q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM lineitem, q
""")
def q_outliers_tukey(spark, sf_dir):
    from .operators.fill import fit_fence_values
    df = _t(spark, sf_dir, "lineitem")
    lf, uf = fit_fence_values(df, ["l_extendedprice"],
                              exact=True)[0]["l_extendedprice"]
    return df.agg(F.sum(((F.col("l_extendedprice") < F.lit(lf)) |
                         (F.col("l_extendedprice") > F.lit(uf)))
                        .cast("long")).alias("n_outliers"))


# ---------------------------------------------------------------------------
# Scalar function surface: .str / .dt / assign (SURVEY.md §2.7-2.8)
# ---------------------------------------------------------------------------

@query("str_ops", """
SELECT p_partkey,
       UPPER(p_name)  AS up_name,
       CAST(LENGTH(p_name) AS INT) AS name_len,
       CONTAINS(p_name, 'a') AS has_a,
       SUBSTRING(p_name, 1, 5) AS name5
FROM part
""")
def q_str_ops(spark, sf_dir):
    hdf = toHandy(_t(spark, sf_dir, "part"))
    s = hdf.pandas["p_name"].str
    out = hdf.assign(up_name=s.upper(),
                     name_len=s.len(),
                     has_a=s.contains("a", regex=False),
                     name5=s.slice(0, 5))
    return out.select("p_partkey", "up_name", "name_len", "has_a", "name5")._df


@query("dt_ops", """
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT)    AS yr,
       CAST(MONTH(o_orderdate) AS INT)   AS mo,
       CAST(DAY(o_orderdate) AS INT)     AS dom,
       CAST(QUARTER(o_orderdate) AS INT) AS qtr,
       CAST((DAYOFWEEK(o_orderdate) + 6) % 7 AS INT) AS dow,
       CAST(WEEKOFYEAR(o_orderdate) AS INT) AS woy
FROM orders
""")
def q_dt_ops(spark, sf_dir):
    hdf = toHandy(_t(spark, sf_dir, "orders"))
    d = hdf.pandas["o_orderdate"].dt
    out = hdf.assign(yr=d.year, mo=d.month, dom=d.day, qtr=d.quarter,
                     dow=d.dayofweek, woy=d.weekofyear)
    return out.select("o_orderkey", "yr", "mo", "dom", "qtr", "dow",
                      "woy")._df


@query("assign_udf", """
SELECT l_returnflag,
       ROUND(SUM(CAST(LN(1 + l_extendedprice) AS DECIMAL(18,8))), 4)::DOUBLE
         AS sum_log
FROM lineitem GROUP BY l_returnflag
""")
def q_assign_udf(spark, sf_dir):
    import numpy as np
    hdf = toHandy(_t(spark, sf_dir, "lineitem"))
    out = hdf.assign(
        logp=lambda l_extendedprice: np.log1p(l_extendedprice))
    # per-row log1p is bit-identical across engines (same double in,
    # correctly-rounded libm out) but the whole-corpus SUM is
    # accumulation-order dependent — snap each term to an exact DECIMAL
    # grid before summing (see tpch_q1 note)
    return A.summary_plan(out._df, [
        F.round(F.sum(F.col("logp").cast("decimal(18,8)")), 4)
         .cast("double").alias("sum_log")], ["l_returnflag"])


# ---------------------------------------------------------------------------
# TPC-H-style relational flagship
# ---------------------------------------------------------------------------

@query("tpch_q1", """
WITH u AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ROUND(l_quantity * 100) AS BIGINT)      AS qu,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pu,
         CAST(ROUND(l_discount * 100) AS BIGINT)      AS du,
         CAST(ROUND(l_tax * 100) AS BIGINT)           AS tu
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
       -- integer-grid sums; rounding to cents happens in EXACT integer
       -- arithmetic ((u + s/2) // s = HALF_UP for positive money), and
       -- only the final <= 2^53 cent count converts to double — decimal
       -- division here returns DOUBLE in DuckDB, whose ulp at sf10
       -- charge magnitudes exceeds half a cent
       SUM(qu)::DOUBLE / 100                           AS sum_qty,
       SUM(pu)::DOUBLE / 100                           AS sum_base_price,
       ((SUM(pu * (100 - du)) + 50) // 100)::DOUBLE / 100
         AS sum_disc_price,
       ((SUM(pu * (100 - du) * (100 + tu)) + 5000) // 10000)::DOUBLE / 100
         AS sum_charge,
       ROUND((SUM(qu)::DOUBLE / 100) / COUNT(*), 4)    AS avg_qty,
       ROUND((SUM(pu)::DOUBLE / 100) / COUNT(*), 4)    AS avg_price,
       ROUND((SUM(du)::DOUBLE / 100) / COUNT(*), 6)    AS avg_disc,
       COUNT(*) AS count_order
FROM u GROUP BY l_returnflag, l_linestatus
""")
def q_tpch_q1(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    # exact money/quantity sums on the integer cent grid via the
    # split-accumulator grid_sum (operators/agg.py): bit-identical to
    # the DecimalType form (which fixed the sf10 accumulation-order
    # cent flips) but ~1.3× faster — native long aggregation instead of
    # per-row checked decimal arithmetic, overflow-safe at any row
    # count by construction. Products stay exact integers on the
    # 1e-4/1e-6 grids (per-row magnitude ≪ 2^53); averages derive from
    # the same exact sums so determinism is inherited. DuckDB sums the
    # identical units (HUGEINT accumulator — no split needed there).
    qu = A.grid_units(F.col("l_quantity"), 100)
    pu = A.grid_units(F.col("l_extendedprice"), 100)
    du = A.grid_units(F.col("l_discount"), 100)
    tu = A.grid_units(F.col("l_tax"), 100)
    disc_u = pu * (F.lit(100) - du)
    charge_u = disc_u * (F.lit(100) + tu)
    cnt = F.count(F.lit(1))
    return A.summary_plan(
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00")
                  .cast("timestamp")),
        [F.round(A.grid_sum(qu, 100), 2).cast("double").alias("sum_qty"),
         F.round(A.grid_sum(pu, 100), 2).cast("double")
          .alias("sum_base_price"),
         F.round(A.grid_sum(disc_u, 10_000), 2).cast("double")
          .alias("sum_disc_price"),
         F.round(A.grid_sum(charge_u, 1_000_000), 2).cast("double")
          .alias("sum_charge"),
         F.round(A.grid_sum(qu, 100).cast("double") / cnt, 4)
          .alias("avg_qty"),
         F.round(A.grid_sum(pu, 100).cast("double") / cnt, 4)
          .alias("avg_price"),
         F.round(A.grid_sum(du, 100).cast("double") / cnt, 6)
          .alias("avg_disc"),
         F.count(F.lit(1)).alias("count_order")],
        ["l_returnflag", "l_linestatus"])

# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis (pipeline/text.py)
# ---------------------------------------------------------------------------

@query("text_stats", """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(LENGTH(text) AS INT)                 AS n_chars_c,
       ROUND(len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','in','is','it','that',
                                 'a','an','for','on','with','as'], t)))
             * 1.0 / len(string_split(text, ' ')), 6) AS sw_ratio,
       md5(array_to_string(list_sort(list_distinct(
             string_split(LOWER(text), ' '))), ' ')) AS fingerprint
FROM documents
""")
def q_text_stats(spark, sf_dir):
    from .pipeline import text as TX
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars_c"),
        F.round(TX.stopword_ratio("text"), 6).alias("sw_ratio"),
        TX.fingerprint("text").alias("fingerprint"))


@query("repetition_score", """
SELECT doc_id,
       ROUND(CASE WHEN len(kg) > 0
             THEN 1 - len(list_distinct(kg)) * 1.0 / len(kg)
             ELSE 0.0 END, 6) AS rep3
FROM (
  SELECT doc_id,
         list_transform(range(1, greatest(len(l) - 2, 0) + 1),
                        i -> array_to_string(l[i:i+2], ' ')) AS kg
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
)
""")
def q_repetition_score(spark, sf_dir):
    """Duplicate-3-gram fraction (Gopher-style repetition quality
    signal) — pure array expression, map-only."""
    from .pipeline import text as TX
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.round(TX.repetition_ratio("text", k=3), 6).alias("rep3"))


@query("pii_flags", """
SELECT doc_id,
  CAST(len(regexp_extract_all(text,
       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS INT)
    AS n_long_digits
FROM documents
""")
def q_pii_flags(spark, sf_dir):
    """PII-shaped substring counts (emails / URLs / long digit runs) —
    the gating signal for redaction or drop-filters. Identical regexes
    run in both engines (dialect-neutral subset)."""
    from .pipeline.text import pii_counts
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", *pii_counts("text"))


@query("decontaminate", """
WITH fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
           string_split(LOWER(text), ' '))), ' ')) AS k
  FROM documents
), bench AS (SELECT DISTINCT k FROM fp WHERE doc_id % 17 = 0)
SELECT doc_id FROM fp
WHERE k NOT IN (SELECT k FROM bench)
""")
def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: drop training docs whose token-set
    fingerprint appears in the (broadcast) benchmark set — one left_anti
    join, no pair enumeration."""
    from .pipeline.dedup import decontaminate
    df = _t(spark, sf_dir, "documents")
    bench = df.filter(F.col("doc_id") % 17 == 0)
    return decontaminate(df, bench).select("doc_id")


@query("token_df", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
)
SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
ORDER BY df DESC, tok LIMIT 50
""")
def q_token_df(spark, sf_dir):
    """Vocabulary document-frequency stats (stop-token discovery for the
    dedup guards) — top 50 by df."""
    from .pipeline.text import token_df_counts
    df = _t(spark, sf_dir, "documents")
    return (token_df_counts(df)
            .orderBy(F.desc("df"), F.asc("tok")).limit(50))


@query("tfidf_vectors", """
WITH tfc AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
), dfc AS (SELECT tok, COUNT(*) AS df FROM tfc GROUP BY tok),
n AS (SELECT COUNT(*) AS _n FROM documents)
SELECT doc_id, tok, tf, df,
       ROUND(tf * (LN((_n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
FROM tfc JOIN dfc USING (tok), n
""")
def q_tfidf_vectors(spark, sf_dir):
    """Sparse TF-IDF vectorization of the corpus (sklearn smoothing).
    df-per-token is derived from the tf table (no second corpus pass);
    the corpus count is a broadcast 1-row cross join."""
    from .pipeline.ir import tfidf
    df = _t(spark, sf_dir, "documents")
    out = tfidf(df)
    return out.select("doc_id", "tok", "tf", "df",
                      F.round("tfidf", 6).alias("tfidf"))


@query("bm25_topk", """
WITH hits AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf, ANY_VALUE(dl) AS dl
  FROM hits WHERE tok IN ('hash', 'join', 'spark')
  GROUP BY doc_id, tok
), dfc AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS _n,
                 AVG(len(string_split(text, ' '))) AS _avgdl
          FROM documents)
SELECT doc_id,
       ROUND(SUM(LN(1 + (_n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                 (tf + 1.2 * (1 - 0.75 + 0.75 * dl / _avgdl))), 6) AS score
FROM tf JOIN dfc USING (tok), stats
GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
""")
def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval for a 3-term query: the token filter runs
    BEFORE the explode ships anything, per-term stats are broadcast."""
    from .pipeline.ir import bm25_topk
    df = _t(spark, sf_dir, "documents")
    return bm25_topk(df, ["hash", "join", "spark"], k=10)


@query("top_bigrams", """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
idx AS (SELECT t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        FROM toks),
grams AS (SELECT array_to_string(t[i:i+1], ' ') AS ngram FROM idx)
SELECT ngram, COUNT(*) AS cnt FROM grams GROUP BY ngram
ORDER BY cnt DESC, ngram LIMIT 20
""")
def q_top_bigrams(spark, sf_dir):
    """Corpus-wide bigram count table (language-model counts): grams are
    array slices built inside the projection, one grouped job, top-k via
    TakeOrderedAndProject."""
    from .pipeline.ir import top_ngrams
    df = _t(spark, sf_dir, "documents")
    return top_ngrams(df, n=2, k=20)


@query("source_report", """
WITH s AS (
  SELECT source, text, string_split(text, ' ') AS toks,
         md5(array_to_string(list_sort(list_distinct(
             string_split(LOWER(text), ' '))), ' ')) AS fp
  FROM documents
), m AS (
  SELECT source, len(toks) AS nt, fp,
    CASE WHEN LENGTH(text) BETWEEN 64 AND 20000 THEN 0.25 ELSE 0 END
    + CASE WHEN len(list_filter(toks, t -> list_contains(
          ['the','and','of','to','in','is','it','that',
           'a','an','for','on','with','as'], t))) * 1.0 / len(toks)
        BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0 END
    + CASE WHEN (LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]',
                                                      '', 'g')))
        * 1.0 / LENGTH(text) <= 0.2 THEN 0.25 ELSE 0 END
    + CASE WHEN list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0
        / len(toks) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END AS q,
    CASE WHEN GREATEST(
      len(list_filter(toks, t -> list_contains(['der','die','und','das','von','zu','mit','den'], t))),
      len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that'], t))),
      len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se'], t))),
      len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','en','un'], t)))) > 0
      AND len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that'], t)))
          >= GREATEST(
      len(list_filter(toks, t -> list_contains(['der','die','und','das','von','zu','mit','den'], t))),
      len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that'], t))),
      len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se'], t))),
      len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','en','un'], t))))
      AND NOT (len(list_filter(toks, t -> list_contains(['der','die','und','das','von','zu','mit','den'], t)))
               > len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that'], t))))
    THEN 1.0 ELSE 0.0 END AS is_en
  FROM s
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
       ROUND(AVG(q), 4) AS avg_quality,
       ROUND(AVG(is_en), 4) AS pct_en,
       COUNT(DISTINCT fp) AS n_unique,
       ROUND(1.0 - COUNT(DISTINCT fp) * 1.0 / COUNT(*), 4) AS dup_ratio
FROM m GROUP BY source
""")
def q_source_report(spark, sf_dir):
    """Per-source dataset card (volume, quality, language mix, exact-dup
    rate) — one grouped aggregation, multi-distinct planned by Spark in
    the same job."""
    from .pipeline.text import source_report
    df = _t(spark, sf_dir, "documents")
    return source_report(df)


@query("quantize_embeddings", """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT pos, MAX(ABS(val)) AS s
  FROM (SELECT unnest(v) AS val,
               generate_subscripts(v, 1) AS pos FROM e)
  GROUP BY pos
), scales AS (
  SELECT list(s ORDER BY pos) AS scales FROM dims
), q AS (
  SELECT vec_id,
         list_transform(list_zip(v, scales),
                        p -> CASE WHEN p[2] > 0
                             THEN CAST(ROUND(p[1] / p[2] * 127) AS INT)
                             ELSE 0 END) AS qvec
  FROM e, scales
)
SELECT vec_id, CAST(generate_subscripts(qvec, 1) - 1 AS INT) AS pos,
       unnest(qvec) AS qval
FROM q
""")
def q_quantize_embeddings(spark, sf_dir):
    """Symmetric per-dim int8 quantization — per-dim max-abs via one
    posexplode groupBy (|dim| shuffle rows), scales broadcast back,
    zip_with projection. Long form (vec_id, pos, qval) for the driver's
    value-hash compare (array cells don't hash portably)."""
    from .pipeline.similarity import quantize_embeddings
    df = _t(spark, sf_dir, "embeddings")
    return (quantize_embeddings(df)
            .select("vec_id", F.posexplode("qvec").alias("pos", "qval")))


@query("pack_sequences", """
WITH c AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS tok_offset
  FROM c
), e AS (
  SELECT doc_id, n_tokens, tok_offset,
         unnest(range(CAST(FLOOR(tok_offset / 512.0) AS BIGINT),
                      CAST(FLOOR((tok_offset + n_tokens - 1) / 512.0)
                           AS BIGINT) + 1)) AS seq_id
  FROM cum
)
SELECT doc_id, seq_id,
       CAST(GREATEST(seq_id * 512 - tok_offset, 0) AS BIGINT) AS tok_start,
       CAST(LEAST((seq_id + 1) * 512 - tok_offset, n_tokens) AS BIGINT)
         AS tok_end
FROM e
""")
def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-chunk packing into 512-token training sequences —
    global token offsets via the distributed cumsum, map-only fan-out."""
    from .pipeline.text import pack_sequences
    df = _t(spark, sf_dir, "documents")
    return pack_sequences(df, seq_len=512)


@query("lang_id", """
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sc AS (
  SELECT doc_id,
    len(list_filter(toks, t -> list_contains(['der','die','und','das','von','zu','mit','den'], t))) AS s_de,
    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that'], t)))   AS s_en,
    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','se'], t)))      AS s_es,
    len(list_filter(toks, t -> list_contains(['le','la','de','et','les','des','en','un'], t)))     AS s_fr
  FROM s
)
SELECT doc_id,
  CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
       WHEN s_de = GREATEST(s_de, s_en, s_es, s_fr) THEN 'de'
       WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr) THEN 'en'
       WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM sc
""")
def q_lang_id(spark, sf_dir):
    from .pipeline import text as TX
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", TX.lang_id("text").alias("lang_pred"))


@query("quality_score", """
WITH s AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id,
    LENGTH(text) AS n,
    len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','it','that',
                                              'a','an','for','on','with','as'], t)))
      * 1.0 / len(toks) AS sw,
    (LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')))
      * 1.0 / LENGTH(text) AS pr,
    list_sum(list_transform(toks, t -> LENGTH(t))) * 1.0 / len(toks) AS mwl
  FROM s
)
SELECT doc_id,
  ROUND(CASE WHEN n BETWEEN 64 AND 20000 THEN 0.25 ELSE 0 END
      + CASE WHEN sw BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0 END
      + CASE WHEN pr <= 0.2 THEN 0.25 ELSE 0 END
      + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END, 2)
    AS quality
FROM m
""")
def q_quality_score(spark, sf_dir):
    from .pipeline import text as TX
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id",
                     F.round(TX.quality_score("text"), 2).alias("quality"))


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup (pipeline/dedup.py)
# ---------------------------------------------------------------------------

@query("dedup_fingerprint", """
WITH fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
           string_split(LOWER(text), ' '))), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
""")
def q_dedup_fingerprint(spark, sf_dir):
    from .pipeline.dedup import fingerprint_duplicates
    df = _t(spark, sf_dir, "documents")
    out = fingerprint_duplicates(df)
    return out.select("fingerprint", "n_docs",
                      F.array_min("doc_ids").alias("min_id"),
                      F.array_max("doc_ids").alias("max_id"))


@query("dedup_exact", """
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
""")
def q_dedup_exact(spark, sf_dir):
    from .pipeline.dedup import exact_duplicates
    df = _t(spark, sf_dir, "documents")
    out = exact_duplicates(df)
    return out.select("content_hash", "n_docs",
                      F.array_min("doc_ids").alias("min_id"),
                      F.array_max("doc_ids").alias("max_id"))


@query("jaccard_pairs", """
WITH ts AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
), inv AS (
  SELECT doc_id, unnest(t) AS tok FROM ts
), dfc AS (
  SELECT tok, COUNT(*) AS df FROM inv GROUP BY tok
), ordered AS (
  SELECT i.doc_id, i.tok,
         ROW_NUMBER() OVER (PARTITION BY i.doc_id
                            ORDER BY d.df, i.tok) AS rn,
         COUNT(*) OVER (PARTITION BY i.doc_id) AS n
  FROM inv i JOIN dfc d USING (tok)
), pref AS (
  -- Bayardo WWW'07 prefix filter (same theorem, independent
  -- implementation): a pair with J >= t shares a token among each
  -- side's first |A| - floor(t*|A|) + 1 rarest-first tokens, so the
  -- candidate join runs on this sliver instead of all n^2/2 pairs —
  -- what makes this oracle feasible at sf1+ where the cross-join
  -- form was excluded
  SELECT doc_id, tok FROM ordered
  WHERE rn <= n - floor(0.95 * n) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(len(list_intersect(x.t, y.t)) * 1.0
             / (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))), 6)
         AS jaccard
FROM cand
JOIN ts x ON x.doc_id = cand.id_a
JOIN ts y ON y.doc_id = cand.id_b
WHERE len(list_intersect(x.t, y.t)) * 1.0
      / (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) >= 0.95
""")
def q_jaccard_pairs(spark, sf_dir):
    from .pipeline.dedup import ngram_jaccard_pairs
    df = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(df, threshold=0.95)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query("jaccard_pairs_capped", """
WITH ts AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t FROM documents
), inv AS (
  SELECT doc_id, unnest(t) AS tok FROM ts
), dfc AS (
  SELECT tok, COUNT(*) AS df FROM inv GROUP BY tok
), ordered AS (
  SELECT i.doc_id, i.tok,
         ROW_NUMBER() OVER (PARTITION BY i.doc_id
                            ORDER BY d.df, i.tok) AS rn,
         COUNT(*) OVER (PARTITION BY i.doc_id) AS n
  FROM inv i JOIN dfc d USING (tok)
), pref AS (
  SELECT doc_id, tok FROM ordered
  WHERE rn <= n - floor(0.95 * n) + 1
), capped AS (
  -- postings truncation: only the 64 smallest doc ids per prefix token
  -- generate candidates (the bounded-at-any-scale form; emitted pairs
  -- still score EXACT Jaccard below — the cap trades recall only)
  SELECT doc_id, tok FROM pref
  QUALIFY ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) <= 64
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(len(list_intersect(x.t, y.t)) * 1.0
             / (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))), 6)
         AS jaccard
FROM cand
JOIN ts x ON x.doc_id = cand.id_a
JOIN ts y ON y.doc_id = cand.id_b
WHERE len(list_intersect(x.t, y.t)) * 1.0
      / (len(x.t) + len(y.t) - len(list_intersect(x.t, y.t))) >= 0.95
""")
def q_jaccard_pairs_capped(spark, sf_dir):
    """The bounded-candidate form of jaccard_pairs: prefix postings are
    deterministically truncated to the 64 smallest doc ids per token
    (salted two-phase top-k — no hot-key window), capping candidate
    volume at C(64,2) per token at ANY corpus scale. Emitted pairs keep
    exact Jaccard (verification uses full token sets); this is the
    variant that stays oracle-checkable at sf10 where the uncapped
    enumeration exhausts disk."""
    from .pipeline.dedup import ngram_jaccard_pairs
    df = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(df, threshold=0.95,
                              max_postings_per_token=64)
    return out.select("id_a", "id_b",
                      F.round("jaccard", 6).alias("jaccard"))


@query("minhash_signatures", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
), seeds AS (SELECT * FROM (VALUES (0, 2013305623), (1, 2458489887), (2, 4071548956), (3, 2327953159), (4, 987524060), (5, 556081905), (6, 2083177207), (7, 761518094)) s(seed, c))
SELECT doc_id, CAST(seed AS INT) AS seed, MIN(xor(h, c)) AS minhash
FROM th CROSS JOIN seeds
GROUP BY doc_id, seed
""")
def q_minhash_signatures(spark, sf_dir):
    from .pipeline.dedup import minhash_signatures
    df = _t(spark, sf_dir, "documents")
    return minhash_signatures(df, num_hashes=8,
                              sigs=_sig_table(spark, sf_dir, 8)) \
        .withColumn("seed", F.col("seed").cast("int"))


@query("simhash", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
  FROM toks
), bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << j)
                  ELSE 0::HUGEINT END) AS f
  FROM bits GROUP BY doc_id
)
SELECT doc_id,
       CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
                 THEN f - 18446744073709551616::HUGEINT
                 ELSE f END AS BIGINT) AS simhash
FROM fp
""")
def q_simhash(spark, sf_dir):
    """SimHash fingerprints — the Arrow-UDF numpy bit logic is replicated
    bit-for-bit by the SQL oracle (md5 first-8-bytes hash, +-1 bit votes,
    sign pack; two's-complement fold to signed 64-bit)."""
    from .pipeline.dedup import simhash_fingerprints
    df = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(df)


_LSH_BANDED_SQL = """
  toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
    FROM documents
  ), th AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
  ), seeds AS (SELECT * FROM (VALUES (0, 2013305623), (1, 2458489887), (2, 4071548956), (3, 2327953159), (4, 987524060), (5, 556081905), (6, 2083177207), (7, 761518094), (8, 2793260896), (9, 1130439398), (10, 2309576590), (11, 3880396366), (12, 2003669775), (13, 507364299), (14, 2670572739), (15, 4255065888)) s(seed, c)),
  sigs AS (
    SELECT doc_id, seed, MIN(xor(h, c)) AS mh
    FROM th CROSS JOIN seeds GROUP BY doc_id, seed
  ), arr AS (
    SELECT doc_id, list(mh ORDER BY seed) AS sig FROM sigs GROUP BY doc_id
  ), banded AS (
    SELECT doc_id, b.band,
           CASE WHEN b.band = 0 THEN sig[1:8] ELSE sig[9:16] END AS bv
    FROM arr CROSS JOIN (SELECT unnest(range(2)) AS band) b
  )
"""


@query("minhash_lsh_pairs", f"""
WITH {_LSH_BANDED_SQL},
ok AS (
  SELECT band, bv FROM banded GROUP BY band, bv HAVING COUNT(*) <= 500
), keep AS (SELECT banded.* FROM banded JOIN ok USING (band, bv))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM keep a JOIN keep b
  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
""")
def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs — oracle joins on band slices
    by LIST EQUALITY (no band-hash parity needed across engines)."""
    from .pipeline.dedup import minhash_lsh_pairs
    df = _t(spark, sf_dir, "documents")
    # r=8 rows/band -> LSH s-curve threshold ~0.92, tuned for >=0.95 dedup;
    # hot-bucket guard on: giant buckets are enumerated linearly by the
    # minhash_lsh_groups query instead of quadratically here
    return minhash_lsh_pairs(df, num_hashes=16, bands=2,
                             max_bucket_size=500,
                             sigs=_sig_table(spark, sf_dir))


@query("lsh_incremental_dedup", f"""
WITH {_LSH_BANDED_SQL},
newb AS (SELECT * FROM banded WHERE doc_id % 7 = 0),
oldb AS (SELECT * FROM banded WHERE doc_id % 7 != 0),
st AS (
  SELECT band, bv, COUNT(*) AS k, MIN(doc_id) AS rep
  FROM oldb GROUP BY band, bv
)
SELECT DISTINCT doc_id, match_id FROM (
  SELECT n.doc_id, o.doc_id AS match_id
  FROM newb n
  JOIN st ON n.band = st.band AND n.bv = st.bv AND st.k <= 500
  JOIN oldb o ON o.band = st.band AND o.bv = st.bv
  UNION ALL
  SELECT n.doc_id, st.rep AS match_id
  FROM newb n
  JOIN st ON n.band = st.band AND n.bv = st.bv AND st.k > 500
)
""")
def q_lsh_incremental_dedup(spark, sf_dir):
    """Incremental MinHash-LSH index maintenance — the daily-crawl
    batch contract (streaming form: streaming/ann_dedup.py
    ``maintain_lsh_state``, stream==batch equality pinned in
    tests/test_streaming.py): the corpus is split into an accepted
    base (6/7 of docs) whose slim ``(doc_id, band, band_hash)`` state
    table is the ONLY thing the old corpus contributes, and a new
    batch (doc_id % 7 == 0) that is signed in isolation and probed
    against the state for bucket collisions. Per-batch cost is
    |batch| signatures + one state join — the accepted corpus is never
    re-signed, so the cost is independent of corpus age. The base
    state rides the shared signature cache (the same md5-minhash table
    every LSH-family query consumes)."""
    from .pipeline.dedup import (lsh_bucket_state,
                                 lsh_incremental_matches)
    df = _t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 7 == 0
    sigs = _sig_table(spark, sf_dir)
    state = lsh_bucket_state(
        df.filter(~is_new), num_hashes=16, bands=2,
        sigs=sigs.filter(F.col("doc_id") % 7 != 0))
    return lsh_incremental_matches(state, df.filter(is_new),
                                   num_hashes=16, bands=2,
                                   max_bucket_size=500)


# ---------------------------------------------------------------------------
# Training-data pipeline: similarity search (pipeline/similarity.py)
# ---------------------------------------------------------------------------

@query("ann_topk", """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8)
SELECT * FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                          c.embedding::DOUBLE[]), 6) DESC, c.vec_id ASC)
           AS INT) AS rank
  FROM embeddings c CROSS JOIN q
  WHERE q.vec_id != c.vec_id
) WHERE rank <= 5
""")
def q_ann_topk(spark, sf_dir):
    from .pipeline.similarity import brute_force_topk
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter(F.col("vec_id") < 8)
    return brute_force_topk(df, queries_df, k=5) \
        .withColumn("rank", F.col("rank").cast("int"))


@query("embedding_neardup", """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.4
""")
def q_embedding_neardup(spark, sf_dir):
    from .pipeline.similarity import neardup_pairs_blas
    df = _t(spark, sf_dir, "embeddings")
    return neardup_pairs_blas(df, threshold=0.4)


_ANN_EXACT_SQL = """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8)
SELECT * FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                                      c.embedding::DOUBLE[]), 6) AS cosine,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                          c.embedding::DOUBLE[]), 6) DESC, c.vec_id ASC)
           AS INT) AS rank
  FROM embeddings c CROSS JOIN q
  WHERE q.vec_id != c.vec_id
) WHERE rank <= 5
"""


@query("ann_ivf", _ANN_EXACT_SQL)
def q_ann_ivf(spark, sf_dir):
    """IVF top-k exercised through its EXACT switch (nprobe =
    n_centroids probes every cell, so the cell machinery runs but the
    result equals brute force — the same convention as GK percentiles'
    exact= path, see module docstring). The approximate nprobe=4
    configuration is recall-pinned in tests/test_pipeline.py."""
    from .pipeline.similarity import ivf_topk
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter(F.col("vec_id") < 8)
    return ivf_topk(df, queries_df, k=5, n_centroids=16, nprobe=16) \
        .withColumn("rank", F.col("rank").cast("int"))


# fit->save ONCE per (session, sf_dir); every ann_ivf_index call after
# the first only load->searches — the train-once/probe-many production
# contract exercised end-to-end under the bench, not just in unit tests
_ANN_INDEX_PATHS: dict = {}


def _ivf_index_path(spark, sf_dir) -> str:
    import tempfile

    from .pipeline.ann_index import IVFIndex
    key = (id(spark), sf_dir)
    path = _ANN_INDEX_PATHS.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="hsq_ivf_idx_")
        df = _t(spark, sf_dir, "embeddings")
        IVFIndex.fit(df, n_centroids=16).save(path, spark)
        _ANN_INDEX_PATHS[key] = path
    return path


@query("ann_ivf_index", _ANN_EXACT_SQL)
def q_ann_ivf_index(spark, sf_dir):
    """IVF search through the PERSISTED index artifact (fit->save once,
    load->search per call — pipeline/ann_index.py), exercised at full
    probe width so the load->assign->probe->rank machinery is
    value-checked against the exact oracle; the approximate nprobe is
    recall-pinned in tests/test_pipeline.py."""
    from .pipeline.ann_index import IVFIndex
    idx = IVFIndex.load(spark, _ivf_index_path(spark, sf_dir))
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter(F.col("vec_id") < 8)
    return idx.search(df, queries_df, k=5, nprobe=16) \
        .withColumn("rank", F.col("rank").cast("int"))

# ---------------------------------------------------------------------------
# Classification metrics (ml/evaluation.py) — JVM-free threshold curves
# ---------------------------------------------------------------------------

# one materialized curve serves all five metric queries (roc/pr/auc/
# confusion/fmeasure) in a session — without this each query rebuilt the
# grouped-cumsum plan from the parquet scan up
_METRICS_CACHE: dict = {}


def _metrics(spark, sf_dir):
    from .ml.evaluation import BinaryClassificationMetrics
    key = (id(spark), sf_dir)
    m = _METRICS_CACHE.get(key)
    if m is None:
        df = _t(spark, sf_dir, "embeddings").select(
            F.round(F.col("embedding")[0].cast("double"), 6).alias("score"),
            (F.col("label") >= 5).cast("double").alias("label"))
        m = BinaryClassificationMetrics(df, "score", "label").persist()
        # one live entry; evicted curves are UNPERSISTED, not just
        # dropped — otherwise each (spark, sf_dir) ever queried pins a
        # cached curve in executor memory for the process lifetime
        for old in _METRICS_CACHE.values():
            try:
                old.unpersist()
            except Exception:
                pass                # session of the old entry may be gone
        _METRICS_CACHE.clear()
        _METRICS_CACHE[key] = m
    return m


_METRICS_BASE_SQL = """
  s AS (SELECT ROUND(embedding[1]::DOUBLE, 6) AS score,
               CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS lab
        FROM embeddings),
  g AS (SELECT score, SUM(lab) AS pos, SUM(1 - lab) AS neg
        FROM s GROUP BY score),
  c AS (SELECT score,
               SUM(pos) OVER (ORDER BY score DESC) AS tp,
               SUM(neg) OVER (ORDER BY score DESC) AS fp
        FROM g),
  t AS (SELECT SUM(lab) AS P, SUM(1 - lab) AS N FROM s)
"""


@query("roc_curve", f"""
WITH {_METRICS_BASE_SQL}
SELECT ROUND(fp / N, 6) AS fpr, ROUND(tp / P, 6) AS tpr FROM c, t
UNION ALL SELECT 0.0, 0.0
UNION ALL SELECT 1.0, 1.0
""")
def q_roc_curve(spark, sf_dir):
    m = _metrics(spark, sf_dir)
    return m.roc().select(F.round("fpr", 6).alias("fpr"),
                          F.round("tpr", 6).alias("tpr"))


@query("pr_curve", f"""
WITH {_METRICS_BASE_SQL}
SELECT ROUND(tp / P, 6) AS recall,
       ROUND(tp / (tp + fp), 6) AS precision FROM c, t
UNION ALL
SELECT 0.0, ROUND(tp / (tp + fp), 6) FROM c, t
WHERE score = (SELECT MAX(score) FROM c)
""")
def q_pr_curve(spark, sf_dir):
    m = _metrics(spark, sf_dir)
    return m.pr().select(F.round("recall", 6).alias("recall"),
                         F.round("precision", 6).alias("precision"))


@query("auc_roc", f"""
WITH {_METRICS_BASE_SQL},
curve AS (
  SELECT ROUND(fp / N, 6) AS fpr, ROUND(tp / P, 6) AS tpr FROM c, t
  UNION ALL SELECT 0.0, 0.0
  UNION ALL SELECT 1.0, 1.0
), lagged AS (
  SELECT fpr, tpr,
         LAG(fpr) OVER (ORDER BY fpr, tpr) AS pfpr,
         LAG(tpr) OVER (ORDER BY fpr, tpr) AS ptpr
  FROM curve
)
SELECT ROUND(SUM((fpr - pfpr) * (tpr + ptpr) / 2), 6) AS auc
FROM lagged WHERE pfpr IS NOT NULL
""")
def q_auc_roc(spark, sf_dir):
    m = _metrics(spark, sf_dir)
    # integrate over the rounded curve so the oracle trapezoids match
    curve = m.roc().select(F.round("fpr", 6).alias("fpr"),
                           F.round("tpr", 6).alias("tpr"))
    from pyspark.sql import Window
    # NULLs (a rate of an absent class) sort last, as DuckDB orders them
    w = Window.orderBy(F.asc_nulls_last("fpr"), F.asc_nulls_last("tpr"))
    lagged = curve.select(
        "fpr", "tpr",
        F.lag("fpr").over(w).alias("pfpr"),
        F.lag("tpr").over(w).alias("ptpr"))
    return (lagged.filter(F.col("pfpr").isNotNull())
            .agg(F.round(F.sum((F.col("fpr") - F.col("pfpr")) *
                               (F.col("tpr") + F.col("ptpr")) / 2), 6)
                 .alias("auc")))


@query("confusion_matrix", """
SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS actual,
       CASE WHEN ROUND(embedding[1]::DOUBLE, 6) > 0.0 THEN 1 ELSE 0 END
         AS predicted,
       COUNT(*) AS n
FROM embeddings GROUP BY 1, 2
""")
def q_confusion_matrix(spark, sf_dir):
    m = _metrics(spark, sf_dir)
    return (m._scores
            .groupBy(F.col("label").cast("int").alias("actual"),
                     (F.col("score") > 0.0).cast("int").alias("predicted"))
            .agg(F.count(F.lit(1)).alias("n")))


# ---------------------------------------------------------------------------
# Statistical tests (operators/stats.py) — JVM-free
# ---------------------------------------------------------------------------

@query("ttest_welch", """
WITH g AS (
  SELECT c_mktsegment, AVG(c_acctbal) AS m, VAR_SAMP(c_acctbal) AS v,
         COUNT(*) AS n
  FROM customer GROUP BY c_mktsegment
)
SELECT a.c_mktsegment AS group_1, b.c_mktsegment AS group_2,
       ROUND((a.m - b.m) / SQRT(a.v / a.n + b.v / b.n), 6) AS t_stat,
       ROUND(POW(a.v / a.n + b.v / b.n, 2)
             / (POW(a.v / a.n, 2) / (a.n - 1)
                + POW(b.v / b.n, 2) / (b.n - 1)), 4) AS dof
FROM g a JOIN g b ON a.c_mktsegment < b.c_mktsegment
""")
def q_ttest_welch(spark, sf_dir):
    from .operators.stats import ttest
    df = _t(spark, sf_dir, "customer")
    pdf = ttest(df, "c_acctbal", "c_mktsegment")
    pdf = pdf.assign(t_stat=pdf.t_stat.round(6), dof=pdf.dof.round(4))
    return spark.createDataFrame(pa.Table.from_pandas(
        pdf[["group_1", "group_2", "t_stat", "dof"]], preserve_index=False))


@query("ks_uniform", """
WITH v AS (
  SELECT value AS v, COUNT(*) AS c FROM events GROUP BY value
), mm AS (SELECT MIN(value) lo, MAX(value) hi, COUNT(*) n FROM events),
e AS (
  SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM v
)
SELECT ROUND(MAX(GREATEST(
         ABS(cum * 1.0 / n - (v - lo) / (hi - lo)),
         ABS((cum - c) * 1.0 / n - (v - lo) / (hi - lo)))), 6) AS ks_stat
FROM e, mm
""")
def q_ks_uniform(spark, sf_dir):
    from .operators.stats import ks_test
    df = _t(spark, sf_dir, "events")
    res = ks_test(df, "value", dist="uniform")
    return _local(spark, "ks_stat double",
                  ks_stat=[round(res["statistic"], 6)])


@query("ks_two_sample", """
WITH v AS (
  SELECT value AS v,
         SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
  FROM events WHERE value IS NOT NULL GROUP BY value
), t AS (SELECT SUM(ca) na, SUM(cb) nb FROM v),
e AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cum_a,
             SUM(cb) OVER (ORDER BY v) AS cum_b FROM v)
SELECT ROUND(MAX(ABS(cum_a * 1.0 / na - cum_b * 1.0 / nb)), 6) AS ks2
FROM e, t
""")
def q_ks_two_sample(spark, sf_dir):
    """Two-sample KS between even/odd user cohorts — distributed shared
    ECDF pass (operators/stats.ks_2samp)."""
    from .operators.stats import ks_2samp
    df = _t(spark, sf_dir, "events").withColumn(
        "_coh", (F.col("user_id") % 2 == 0))
    res = ks_2samp(df, "value", "_coh", True, False)
    return _local(spark, "ks2 double", ks2=[round(res["statistic"], 6)])


@query("chi2_independence", """
WITH o AS (
  SELECT o_orderstatus a, o_orderpriority b, COUNT(*) * 1.0 AS n
  FROM orders GROUP BY 1, 2
), r AS (SELECT a, SUM(n) rn FROM o GROUP BY a),
c AS (SELECT b, SUM(n) cn FROM o GROUP BY b),
t AS (SELECT SUM(n) tn FROM o)
SELECT ROUND(SUM(POW(COALESCE(o.n, 0) - r.rn * c.cn / t.tn, 2)
                 / (r.rn * c.cn / t.tn)), 4) AS chi2,
       CAST((COUNT(DISTINCT r.a) - 1) * (COUNT(DISTINCT c.b) - 1)
            AS BIGINT) AS dof
FROM r CROSS JOIN c
LEFT JOIN o ON o.a = r.a AND o.b = c.b, t
""")
def q_chi2_independence(spark, sf_dir):
    """Chi-square independence of order status × priority (full cross
    product incl. empty cells)."""
    from .operators.stats import chi2_independence
    df = _t(spark, sf_dir, "orders")
    res = chi2_independence(df, "o_orderstatus", "o_orderpriority")
    return _local(spark, "chi2 double, dof long",
                  chi2=[round(res["statistic"], 4)], dof=[res["dof"]])


# ---------------------------------------------------------------------------
# Ordered-window surface (functions/window.py) — reference-blacklist upgrade
# ---------------------------------------------------------------------------

@query("window_ops", """
SELECT o_orderkey,
       ROUND(SUM(o_totalprice) OVER w_cum, 2)       AS cum_spend,
       ROUND(o_totalprice - LAG(o_totalprice) OVER w, 2) AS delta,
       CAST(ROW_NUMBER() OVER w AS INT)             AS order_seq,
       ROUND(AVG(o_totalprice) OVER
             (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
         AS rolling3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""")
def q_window_ops(spark, sf_dir):
    hdf = toHandy(_t(spark, sf_dir, "orders"))
    s = hdf.ordered(by=["o_orderdate", "o_orderkey"],
                    partition="o_custkey")["o_totalprice"]
    out = hdf.assign(
        cum_spend=F.round(s.cumsum(), 2),
        delta=F.round(s.diff(), 2),
        order_seq=s.cumcount().cast("int"),
        rolling3=F.round(s.rolling_mean(3), 4))
    return out.select("o_orderkey", "cum_spend", "delta", "order_seq",
                      "rolling3")._df


# ---------------------------------------------------------------------------
# As-of join (operators/asof.py)
# ---------------------------------------------------------------------------

@query("asof_join", """
WITH r AS (
  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS ref_order
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, r.ref_order
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
""")
def q_asof_join(spark, sf_dir):
    from .operators.asof import asof_join
    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _t(spark, sf_dir, "orders")
    right = (orders.groupBy("o_custkey", "o_orderdate")
             .agg(F.max("o_orderkey").alias("ref_order")))
    out = asof_join(events, right, on="ts", by="user_id",
                    right_on="o_orderdate", right_by="o_custkey")
    return out.select("event_id", "user_id", "ref_order")


# ---------------------------------------------------------------------------
# Event-time windows (streaming/windows.py) — batch == streaming plan
# ---------------------------------------------------------------------------

@query("tumbling_window", """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""")
def q_tumbling_window(spark, sf_dir):
    from .streaming.windows import tumbling
    df = _t(spark, sf_dir, "events")
    out = tumbling(df, "ts", "1 hour", group_cols=["event_type"],
                   aggs=[F.count(F.lit(1)).alias("cnt"),
                         F.round(F.sum("value"), 2).alias("sum_value")])
    return out.drop("window_end")


@query("stream_band_join", """
WITH c AS (
  SELECT user_id AS uid, ts, event_id FROM events
  WHERE event_type = 'click'
), v AS (
  SELECT user_id AS uid, ts, value AS v FROM events
  WHERE event_type = 'view'
)
SELECT c.uid, c.ts, c.event_id, v.ts AS ts_r, v.v
FROM c JOIN v
  ON c.uid = v.uid
 AND v.ts BETWEEN c.ts - INTERVAL 10 MINUTE
              AND c.ts + INTERVAL 10 MINUTE
""")
def q_stream_band_join(spark, sf_dir):
    """Event-time band join (the batch twin of the stream-stream join —
    identical plan minus state management; streaming==batch pinned in
    tests/test_streaming.py). The band lives in the join condition, which
    is what bounds state in streaming mode."""
    from .streaming.windows import stream_join
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("uid"), "ts", "event_id"))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("uid"), "ts",
                     F.col("value").alias("v")))
    return stream_join(clicks, views, ["uid"], "ts", "ts",
                       tolerance="10 minutes")


@query("funnel", """
WITH s1 AS (
  SELECT user_id AS u, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.u
  JOIN s1 ON e.user_id = s1.u
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s1.t1 + INTERVAL 7 DAY
  GROUP BY e.user_id
)
SELECT * FROM (
  SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', COUNT(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', COUNT(*) FROM s3
)
""")
def q_funnel(spark, sf_dir):
    """First-touch view -> click -> purchase funnel with a 7-day
    conversion window — per-step min-aggregations chained by
    co-partitioned user joins."""
    from .streaming.windows import funnel_counts
    df = _t(spark, sf_dir, "events")
    return funnel_counts(df, ["view", "click", "purchase"],
                         within="7 days")


@query("session_counts", """
WITH o AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN prev IS NULL
                       OR epoch(ts) - epoch(prev) > 1800
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM o GROUP BY user_id
""")
def q_session_counts(spark, sf_dir):
    from .streaming.windows import session_counts
    df = _t(spark, sf_dir, "events")
    return session_counts(df, "ts", "user_id", 1800)


@query("session_window", """
WITH o AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), m AS (
  SELECT user_id, ts,
         SUM(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, COUNT(*) AS cnt
FROM m GROUP BY user_id, sid
""")
def q_session_window(spark, sf_dir):
    """Native F.session_window sessionization, oracle via gaps-and-islands
    (session merges while gap < 30min; window end = last event + gap —
    F.session_window's end-exclusive convention)."""
    from .streaming.windows import session
    df = _t(spark, sf_dir, "events")
    return session(df, "ts", "30 minutes", group_cols=["user_id"])


# ---------------------------------------------------------------------------
# Multimodal plumbing (pipeline/multimodal.py)
# ---------------------------------------------------------------------------

@query("media_pipeline", """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       sha256(text) AS sha256
FROM documents
""")
def q_media_pipeline(spark, sf_dir):
    from .pipeline.multimodal import attach_fake_media, media_features
    df = _t(spark, sf_dir, "documents")
    media = attach_fake_media(df, "doc_id", "text")
    return media_features(media).select("media_id", "byte_len", "sha256")


# ---------------------------------------------------------------------------
# Relational extensions beyond the reference: rollup, top-k
# ---------------------------------------------------------------------------

@query("rollup_sales", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2)::DOUBLE
         AS sum_price,
       COUNT(*) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup_sales(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    return (df.rollup("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 .cast("decimal(12,2)")), 2)
                   .cast("double").alias("sum_price"),
                   F.count(F.lit(1)).alias("cnt")))


@query("topk_orders", """
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def q_topk_orders(spark, sf_dir):
    df = _t(spark, sf_dir, "orders")
    return (df.select("o_orderkey", "o_totalprice")
              .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
              .limit(10))

# ---------------------------------------------------------------------------
# Multi-table relational: joins with broadcast dims (TPC-H Q3/Q5 flavor)
# ---------------------------------------------------------------------------

@query("join_revenue", """
SELECT n.n_name,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)::DOUBLE
         AS revenue,
       COUNT(*) AS cnt
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def q_join_revenue(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # dims broadcast (nation/region always; customer at these SFs);
    # the only real shuffle is lineitem <-> orders on the orderkey
    dim = (F.broadcast(c)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                 n.n_regionkey == F.col("r_regionkey")))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
          .join(F.broadcast(dim), o.o_custkey == c.c_custkey))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    return (j.groupBy("n_name")
             .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                  F.count(F.lit(1)).alias("cnt")))


@query("disassemble", """
SELECT ROUND(AVG(embedding[1]::DOUBLE), 6) AS m0,
       ROUND(AVG(embedding[2]::DOUBLE), 6) AS m1,
       ROUND(AVG(embedding[3]::DOUBLE), 6) AS m2
FROM embeddings
""")
def q_disassemble(spark, sf_dir):
    hdf = toHandy(_t(spark, sf_dir, "embeddings"))
    d = hdf.disassemble("embedding")
    return d._df.agg(
        F.round(F.avg(F.col("embedding_0").cast("double")), 6).alias("m0"),
        F.round(F.avg(F.col("embedding_1").cast("double")), 6).alias("m1"),
        F.round(F.avg(F.col("embedding_2").cast("double")), 6).alias("m2"))


@query("mahalanobis_count", """
WITH s AS (
  SELECT AVG(l_quantity) mu1, STDDEV_SAMP(l_quantity) sd1,
         AVG(l_extendedprice) mu2, STDDEV_SAMP(l_extendedprice) sd2,
         CORR(l_quantity, l_extendedprice) rho
  FROM lineitem
)
SELECT CAST(SUM(CASE WHEN
        ((l_quantity - mu1) / sd1 * (l_quantity - mu1) / sd1
         + (l_extendedprice - mu2) / sd2 * (l_extendedprice - mu2) / sd2
         - 2 * rho * (l_quantity - mu1) / sd1 * (l_extendedprice - mu2) / sd2)
        / (1 - rho * rho) > 13.815510557964274 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_outliers
FROM lineitem, s
""")
def q_mahalanobis_count(spark, sf_dir):
    """2-D Mahalanobis outlier count at chi2(0.999, k=2); the closed-form
    2-D inverse makes this oracle-expressible."""
    from .operators.outliers import mahalanobis_outliers
    hdf = toHandy(_t(spark, sf_dir, "lineitem"))
    out = mahalanobis_outliers(hdf, ["l_quantity", "l_extendedprice"],
                               critical_value=0.999, keep=True)
    return out._df.agg(F.count(F.lit(1)).alias("n_outliers"))


@query("quantile_bucket_counts", """
WITH e AS (
  SELECT quantile_cont(o_totalprice, 0.25) e1,
         quantile_cont(o_totalprice, 0.50) e2,
         quantile_cont(o_totalprice, 0.75) e3
  FROM orders
)
SELECT CAST(LEAST(CAST(o_totalprice >= e1 AS INT)
                  + CAST(o_totalprice >= e2 AS INT)
                  + CAST(o_totalprice >= e3 AS INT), 3) AS INT) AS bucket,
       COUNT(*) AS cnt
FROM orders, e GROUP BY 1
""")
def q_quantile_bucket_counts(spark, sf_dir):
    from .operators.strata import Quantile
    df = _t(spark, sf_dir, "orders")
    qt = Quantile("o_totalprice", 4, exact=True)
    qt._fit(df)
    return (df.withColumn("bucket", qt._col())
              .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt")))

# ---------------------------------------------------------------------------
# JSON + semi-structured (upgrade: reference has no JSON functions, §2.7)
# ---------------------------------------------------------------------------

@query("json_extract", """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       COUNT(*) AS cnt
FROM events GROUP BY event_type
""")
def q_json_extract(spark, sf_dir):
    df = _t(spark, sf_dir, "events")
    return (df.groupBy("event_type")
            .agg(F.sum(F.get_json_object("props", "$.k").cast("int"))
                 .cast("bigint").alias("sum_k"),
                 F.count(F.lit(1)).alias("cnt")))


@query("minhash_lsh_groups", f"""
WITH {_LSH_BANDED_SQL},
bm AS (
  SELECT doc_id, band, bv,
         MIN(doc_id) OVER (PARTITION BY band, bv) AS bucket_min
  FROM banded
)
SELECT doc_id, MIN(bucket_min) AS cluster_id FROM bm GROUP BY doc_id
""")
def q_minhash_lsh_groups(spark, sf_dir):
    """Linear-output LSH dedup clusters (min-id per shared bucket) —
    oracle-checked via the same list-equality banding."""
    from .pipeline.dedup import minhash_lsh_groups
    df = _t(spark, sf_dir, "documents")
    return minhash_lsh_groups(df, num_hashes=16, bands=2,
                              sigs=_sig_table(spark, sf_dir))


@query("lsh_star_edges_recovered", f"""
WITH {_LSH_BANDED_SQL},
bm AS (
  SELECT doc_id, band, bv,
         MIN(doc_id) OVER (PARTITION BY band, bv) AS bucket_min
  FROM banded
)
SELECT DISTINCT bucket_min AS id_a, doc_id AS id_b
FROM bm WHERE doc_id <> bucket_min
""")
def q_lsh_star_edges_recovered(spark, sf_dir):
    """Uncapped star edges under oracle: (bucket_min, member) over EVERY
    bucket, the hot duplicate-clique buckets included — the full-closure
    skeleton, which the SQL oracle computes directly. The bucket-min
    window streams each bucket through a spillable row buffer, so no cap
    is needed to bound task memory; this is the 100 TB-realistic
    configuration, value-checked end-to-end."""
    from .pipeline.dedup import minhash_lsh_star_edges
    df = _t(spark, sf_dir, "documents")
    return minhash_lsh_star_edges(df, num_hashes=16, bands=2,
                                  sigs=_sig_table(spark, sf_dir))

@query("running_user_stats", """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       MAX(value) AS max_value
FROM events GROUP BY user_id
""")
def q_running_user_stats(spark, sf_dir):
    """Batch contract of the applyInPandasWithState running aggregate
    (stream-mode equality pinned in tests/test_streaming.py)."""
    from .streaming.stateful import running_user_stats
    df = _t(spark, sf_dir, "events")
    out = running_user_stats(df)
    return out.withColumn("sum_value", F.round("sum_value", 2))

@query("spearman_corr", """
WITH r AS (
  SELECT (RANK() OVER (ORDER BY l_quantity)
          + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0) AS rx,
         (RANK() OVER (ORDER BY l_extendedprice)
          + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0) AS ry
  FROM lineitem
)
SELECT ROUND(CORR(rx, ry), 6) AS spearman FROM r
""")
def q_spearman_corr(spark, sf_dir):
    df = _t(spark, sf_dir, "lineitem")
    out = A.corr_plan(df, ["l_quantity", "l_extendedprice"],
                      method="spearman")
    return (out.filter(F.col("col_x") != F.col("col_y"))
            .select(F.round("corr", 6).alias("spearman")))


@query("fmeasure_by_threshold", f"""
WITH {_METRICS_BASE_SQL}
SELECT score AS threshold,
       ROUND(CASE WHEN (tp / (tp + fp)) + (tp / P) > 0
                  THEN 2 * (tp / (tp + fp)) * (tp / P)
                       / ((tp / (tp + fp)) + (tp / P))
                  ELSE 0 END, 6) AS f_measure
FROM c, t
""")
def q_fmeasure_by_threshold(spark, sf_dir):
    m = _metrics(spark, sf_dir)
    out = m.fMeasureByThreshold(beta=1.0)
    return out.select("threshold",
                      F.round("f_measure", 6).alias("f_measure"))


@query("sliding_window", """
SELECT ws AS window_start, COUNT(*) AS cnt
FROM (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS ws FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour' FROM events
)
GROUP BY ws
""")
def q_sliding_window(spark, sf_dir):
    """2h window / 1h slide: each event lands in exactly two windows."""
    from .streaming.windows import sliding
    df = _t(spark, sf_dir, "events")
    out = sliding(df, "ts", "2 hours", "1 hour")
    return out.select("window_start", "cnt")

@query("salted_agg", """
SELECT l_returnflag,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2)::DOUBLE
         AS sum_price,
       COUNT(*) AS cnt,
       MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
""")
def q_salted_agg(spark, sf_dir):
    """Two-phase salted aggregation — result must be identical to the
    plain groupBy (the salt only reshapes the first shuffle). The money
    sum rides an exact DECIMAL column so the salted two-phase add order
    cannot differ from the oracle's (see tpch_q1 note)."""
    from .operators.skew import salted_agg
    df = _t(spark, sf_dir, "lineitem").withColumn(
        "_price_dec", F.col("l_extendedprice").cast("decimal(12,2)"))
    out = salted_agg(df, ["l_returnflag"],
                     {"sum_price": ("sum", "_price_dec"),
                      "cnt": ("count", None),
                      "max_price": ("max", "l_extendedprice")})
    return out.withColumn("sum_price",
                          F.round("sum_price", 2).cast("double"))

# ---------------------------------------------------------------------------
# Deterministic sampling / split assignment (pipeline/sample.py)
# ---------------------------------------------------------------------------

@query("hash_sample", """
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR || '#'), 1, 8))::BIGINT
      / 4294967296.0 < 0.1
""")
def q_hash_sample(spark, sf_dir):
    from .pipeline.sample import hash_sample
    df = _t(spark, sf_dir, "documents")
    return hash_sample(df, "doc_id", 0.1).select("doc_id", "lang")


@query("split_assign", """
WITH u AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR || '#'), 1, 8))::BIGINT
           / 4294967296.0 AS h
  FROM documents
)
SELECT CASE WHEN h < 0.9 THEN 'train'
            WHEN h >= 0.9 AND h < 0.95 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS cnt
FROM u GROUP BY 1
""")
def q_split_assign(spark, sf_dir):
    from .pipeline.sample import split_assign
    df = _t(spark, sf_dir, "documents")
    out = split_assign(df, "doc_id")
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("cnt"))

@query("chunk_documents", """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), starts AS (
  SELECT doc_id, toks, unnest(range(0, GREATEST(len(toks) - 1, 0) + 1, 48))
           AS start,
         CAST((unnest(range(0, GREATEST(len(toks) - 1, 0) + 1, 48)) / 48)
              AS INT) AS chunk_id
  FROM t
)
SELECT doc_id, chunk_id,
       array_to_string(toks[start + 1:start + 64], ' ') AS chunk_text,
       CAST(LEAST(64, len(toks) - start) AS INT) AS n_chunk_tokens
FROM starts
""")
def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (size 64, overlap 16 -> stride
    48) — map-only fan-out."""
    from .pipeline.text import chunk
    df = _t(spark, sf_dir, "documents")
    return chunk(df, size=64, overlap=16)

@query("tpch_q6", """
SELECT ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_discount AS DECIMAL(12,2))), 2)::DOUBLE
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
""")
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 — pure filter + agg; every predicate pushes to the scan."""
    df = _t(spark, sf_dir, "lineitem")
    f = (df.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")) &
        F.col("l_discount").between(0.03, 0.05) &
        (F.col("l_quantity") < 24)))
    return f.agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                               * F.col("l_discount").cast("decimal(12,2)")),
                         2).cast("double").alias("revenue"))


@query("tpch_q3", """
SELECT l_orderkey,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)::DOUBLE
         AS revenue,
       o_orderdate
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
""")
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shipping priority — selective dim filter broadcast into
    the fact joins, top-k via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp"))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
          .join(F.broadcast(c), o.o_custkey == c.c_custkey))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    return (j.groupBy("l_orderkey", "o_orderdate")
             .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
             .select("l_orderkey", "revenue", "o_orderdate")
             .orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10))


@query("tpch_q5", """
SELECT n_name,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2)::DOUBLE
         AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
               AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier revenue — six-table join. The tiny dims
    (region -> nation -> supplier) collapse via broadcast joins into a
    small filtered supplier side; the two fact joins
    (orders x customer, lineitem x suppliers) stay shuffle joins keyed
    on their natural keys, which is the plan that survives 100x: no
    fact table is ever broadcast, and the nation/region pruning reaches
    the supplier scan before any shuffle."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem")
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
          .join(c, o.o_custkey == c.c_custkey)
          .join(s, (l.l_suppkey == s.s_suppkey) &
                   (c.c_nationkey == s.s_nationkey)))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    return (j.groupBy("n_name")
             .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue")))


@query("percentiles_distributed", """
SELECT q, ROUND(CASE q
         WHEN 0.25 THEN quantile_cont(l_extendedprice, 0.25)
         WHEN 0.50 THEN quantile_cont(l_extendedprice, 0.50)
         WHEN 0.75 THEN quantile_cont(l_extendedprice, 0.75)
         WHEN 0.99 THEN quantile_cont(l_extendedprice, 0.99)
       END, 4) AS value
FROM lineitem, (SELECT unnest([0.25, 0.50, 0.75, 0.99]) AS q)
GROUP BY q
""")
def q_percentiles_distributed(spark, sf_dir):
    """Exact type-7 percentiles as (q, value) rows: the one-row
    ``exact_quantiles_plan`` array exploded next to its q grid (no
    single-reducer value buffer — the 100 TB exact path; the fused
    native-``percentile`` form stays for one-pass multi-stat aggs)."""
    qs = [0.25, 0.50, 0.75, 0.99]
    df = _t(spark, sf_dir, "lineitem")
    out = A.exact_quantiles_plan(df, {"l_extendedprice": qs}).select(
        F.array(*[F.lit(q) for q in qs]).alias("q"),
        F.col("l_extendedprice").alias("value"))
    return (out.select(F.inline(F.arrays_zip("q", "value")))
            .select("q", F.round("value", 4).alias("value")))


_PROFILE_NUM = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                "l_discount"]
_PROFILE_OTHER = ["l_returnflag", "l_shipdate"]


@query("profile", "\nUNION ALL\n".join(
    [f"""SELECT '{c}' AS "column", COUNT({c}) AS n,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       COUNT(DISTINCT {c}) AS n_distinct,
       ROUND(MIN({c})::DOUBLE, 4) AS min, ROUND(MAX({c})::DOUBLE, 4) AS max,
       ROUND(AVG({c})::DOUBLE, 4) AS mean,
       ROUND(STDDEV_SAMP({c})::DOUBLE, 4) AS std
FROM lineitem""" for c in _PROFILE_NUM] +
    [f"""SELECT '{c}', COUNT({c}),
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT {c}),
       NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
FROM lineitem""" for c in _PROFILE_OTHER]))
def q_profile(spark, sf_dir):
    """Whole-frame column profile — one wide agg, long-form output
    (exact distinct for the oracle; HLL is the default path)."""
    df = _t(spark, sf_dir, "lineitem")
    out = A.profile_plan(df, _PROFILE_NUM + _PROFILE_OTHER, exact=True)
    return out.select(
        "column", "n", "n_null", "n_distinct",
        *[F.round(m, 4).alias(m) for m in ("min", "max", "mean", "std")])


@query("tpch_q4", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 (adapted: l_shipdate > o_orderdate stands in for the
    commitdate/receiptdate pair this schema lacks) — EXISTS becomes one
    LEFT SEMI join on the order key with the non-equi predicate fused
    into the join condition; no distinct, no second aggregation, and the
    date filter prunes orders before the shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(l, (o.o_orderkey == l.l_orderkey) &
                     (l.l_shipdate > o.o_orderdate), "left_semi")
    return (semi.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@query("tpch_q10", """
SELECT c.c_custkey, c.c_name, n.n_name,
       ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)::DOUBLE
         AS revenue,
       ROUND(c.c_acctbal, 2) AS c_acctbal
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 returned-item reporting — both fact filters (order date
    window, returnflag) push to the scans before the orderkey shuffle;
    nation broadcasts; top-20 via TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
          .join(c, o.o_custkey == c.c_custkey)
          .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
            .select("c_custkey", "c_name", "n_name", "revenue",
                    F.round("c_acctbal", 2).alias("c_acctbal"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20))


@query("tpch_q14", """
SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
       AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate <  TIMESTAMP '1997-10-01'
""")
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion effect — one month of lineitem joined to part
    (broadcast: part is the small side), conditional aggregation in a
    single pass."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp")))
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4)
                 .alias("promo_revenue_pct")))


@query("tpch_q18", """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
       ROUND(SUM(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 160)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
""")
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers — the HAVING subquery is one
    grouped pre-aggregation on lineitem's natural key; its (small)
    surviving key set LEFT SEMI-joins orders before the wide join, so
    only qualifying orders ever reach the customer join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("_q"))
           .filter(F.col("_q") > 160)
           .select("l_orderkey"))
    o_big = o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "o_orderkey", "left_semi")
    j = (l.join(o_big, l.l_orderkey == o_big.o_orderkey)
          .join(c, o_big.o_custkey == c.c_custkey))
    return (j.groupBy("c_custkey", "c_name", "o_orderkey", "o_totalprice")
            .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


@query("tpch_q19", """
SELECT ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2)::DOUBLE
         AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 disjunctive predicates — the brand/size arms prune the
    (broadcast) part side before the join and the quantity envelope
    (1..30) pushes to the lineitem scan; the residual OR evaluates
    post-join inside codegen."""
    p = _t(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)) |
        ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)) |
        ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)))
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30))
    arm = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11)) |
        ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
         & F.col("l_quantity").between(10, 20)) |
        ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
         & F.col("l_quantity").between(20, 30)))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .filter(arm)
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue")))


@query("tpch_q22", """
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment, COUNT(*) AS numcust,
       ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))), 2)::DOUBLE
         AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_mktsegment
""")
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (adapted: mktsegment stands in for the phone country
    code) — the scalar average broadcasts as a 1-row cross join, the
    NOT EXISTS is one LEFT ANTI join against pre-filtered orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("a")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("a")))
    no_urgent = rich.join(
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey", "left_anti")
    return (no_urgent.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")),
                         2).cast("double").alias("totacctbal")))


@query("ks_exponential", """
WITH v AS (
  SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem
  WHERE l_quantity IS NOT NULL GROUP BY l_quantity
), mm AS (SELECT COUNT(l_quantity) n FROM lineitem),
e AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM v)
SELECT ROUND(MAX(GREATEST(
         ABS(cum * 1.0 / n - (1 - EXP(-GREATEST(v, 0) / 25.0))),
         ABS((cum - c) * 1.0 / n - (1 - EXP(-GREATEST(v, 0) / 25.0)))
       )), 6) AS ks_stat
FROM e, mm
""")
def q_ks_exponential(spark, sf_dir):
    """KS against a NAMED distribution (exponential, commons-math mean
    convention — ref stats.py:41-64): exercises the pure-python CDF
    library through the distributed ECDF plan."""
    from .operators.stats import ks_test
    df = _t(spark, sf_dir, "lineitem")
    res = ks_test(df, "l_quantity", dist="exponential", params=(25.0,))
    return _local(spark, "ks_stat double",
                  ks_stat=[round(res["statistic"], 6)])


@query("simhash_pairs", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
  FROM toks
), bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << j)
                  ELSE 0::HUGEINT END) AS f
  FROM bits GROUP BY doc_id
), s AS (
  SELECT doc_id,
         CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
                   THEN f - 18446744073709551616::HUGEINT
                   ELSE f END AS BIGINT) AS simhash
  FROM fp
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""")
def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming <= 3) via the (k+1)-block
    permutation join — the oracle's exact all-pairs scan verifies the
    blocked plan finds EVERY qualifying pair, pinning the recall-1.0
    guarantee of the block trick."""
    from .pipeline.dedup import simhash_neardup_pairs
    df = _t(spark, sf_dir, "documents")
    # explicit 2B candidate budget (raised from the library's 100M
    # default): sf<=1 runs fine under it, while sf10's 11.9B-candidate
    # bucket volume (hottest 16-bit block bucket holds 98k docs) trips
    # the guard BY DESIGN — the sf10 oracle records the refusal as the
    # contract (--expect-guard) and simhash_pairs_capped is the
    # bounded variant that value-checks there
    return simhash_neardup_pairs(df, max_hamming=3,
                                 max_candidate_pairs=2_000_000_000) \
        .withColumn("hamming", F.col("hamming").cast("int"))


@query("simhash_pairs_capped", """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv
  FROM toks
), bits AS (
  SELECT doc_id, j,
         SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM h CROSS JOIN (SELECT unnest(range(64)) AS j) GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << j)
                  ELSE 0::HUGEINT END) AS f
  FROM bits GROUP BY doc_id
), s AS (
  SELECT doc_id, f,
         CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
                   THEN f - 18446744073709551616::HUGEINT
                   ELSE f END AS BIGINT) AS simhash
  FROM fp
), blocks AS (
  SELECT doc_id, CAST(j AS INT) AS block,
         CAST((f >> (j * 16)) & 65535 AS BIGINT) AS block_val
  FROM s CROSS JOIN (SELECT unnest(range(4)) AS j)
), capped AS (
  SELECT doc_id, block, block_val FROM blocks
  QUALIFY ROW_NUMBER() OVER (PARTITION BY block, block_val
                             ORDER BY doc_id) <= 64
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
FROM capped a
JOIN capped b ON a.block = b.block AND a.block_val = b.block_val
             AND a.doc_id < b.doc_id
JOIN s sa ON sa.doc_id = a.doc_id
JOIN s sb ON sb.doc_id = b.doc_id
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
""")
def q_simhash_pairs_capped(spark, sf_dir):
    """The bounded-candidate form of simhash_pairs: each (block, value)
    bucket keeps only its 64 smallest doc ids (deterministic salted
    two-phase truncation — no hot-key window), so candidate volume is
    capped at C(64, 2) per bucket at ANY corpus scale. Emitted pairs
    still verify exact Hamming; the cap trades recall only. This is the
    variant that stays oracle-checkable at sf10, where the uncapped
    enumeration's 11.9B-candidate volume trips the loud guard by
    design."""
    from .pipeline.dedup import simhash_neardup_pairs
    df = _t(spark, sf_dir, "documents")
    return simhash_neardup_pairs(df, max_hamming=3,
                                 max_candidate_pairs=2_000_000_000,
                                 max_docs_per_bucket=64) \
        .withColumn("hamming", F.col("hamming").cast("int"))


@query("embedding_centroids", """
SELECT label, CAST(pos - 1 AS INT) AS pos, ROUND(AVG(val), 6) AS centroid
FROM (
  SELECT label, unnest(embedding) AS val,
         unnest(range(1, len(embedding) + 1)) AS pos
  FROM embeddings)
GROUP BY label, pos
""")
def q_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroids — posexplode + one grouped avg;
    shuffle is |labels| x dim, corpus-size independent."""
    from .pipeline.similarity import label_centroids
    df = _t(spark, sf_dir, "embeddings")
    out = label_centroids(df)
    return out.select("label", F.col("pos").cast("int").alias("pos"),
                      F.round("centroid", 6).alias("centroid"))


@query("range_join", """
WITH iv AS (
  SELECT o_orderkey AS iv_key, o_orderdate AS lo,
         o_orderdate + INTERVAL 7 DAY AS hi
  FROM orders WHERE o_orderkey % 97 = 0
)
SELECT iv_key, COUNT(*) AS n_in_window,
       MIN(o_orderkey) AS first_order
FROM orders JOIN iv
  ON o_orderdate >= lo AND o_orderdate <= hi
GROUP BY iv_key
""")
def q_range_join(spark, sf_dir):
    """Point-in-interval range join via bucketized equi-join (NO
    nested-loop): orders falling inside 7-day windows anchored at a 1/97
    sample of orders. Bucket width = the interval length.

    Aggregation pushdown (round 10): the final aggregates (count, min)
    are DECOMPOSABLE, so the point side is pre-aggregated to the range
    axis grain (one row per order DATE — ~2.4k rows at any SF, since
    both points and interval bounds are day-valued) before the range
    join. The joined row count drops from |orders| x ~interval_density
    (billions at sf10 — every pair enumerated just to be counted) to
    |distinct dates| x 8, and the final agg sums the partial counts.
    Same trick a 100 TB window-count would need; the generic
    pair-enumerating range_join stays available for non-decomposable
    payloads. Measured sf10: 19.9 -> ~2s. Values oracle-identical."""
    from .operators.rangejoin import range_join
    o = _t(spark, sf_dir, "orders")
    iv = (o.filter(F.col("o_orderkey") % 97 == 0)
          .select(F.col("o_orderkey").alias("iv_key"),
                  F.col("o_orderdate").alias("lo"),
                  (F.col("o_orderdate")
                   + F.expr("INTERVAL 7 DAYS")).alias("hi")))
    days = (o.groupBy("o_orderdate")
            .agg(F.count(F.lit(1)).alias("_cnt"),
                 F.min("o_orderkey").alias("_min_key")))
    j = range_join(days, iv, point="o_orderdate", lo="lo", hi="hi",
                   bucket=7 * 86400.0)
    return (j.groupBy("iv_key")
            .agg(F.sum("_cnt").alias("n_in_window"),
                 F.min("_min_key").alias("first_order")))


@query("pivot_priority", """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
            AS BIGINT) AS medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
                END) AS BIGINT) AS notspec,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
            AS BIGINT) AS low
FROM orders GROUP BY o_orderstatus
""")
def q_pivot_priority(spark, sf_dir):
    """Native pivot (explicit value list -> deterministic columns, ONE
    grouped job — Spark's two-phase pivot agg; without the value list it
    needs an extra distinct pass)."""
    df = _t(spark, sf_dir, "orders")
    out = (df.groupBy("o_orderstatus")
           .pivot("o_orderpriority",
                  ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                   "5-LOW"])
           .agg(F.coalesce(F.count(F.lit(1)), F.lit(0))))
    names = ["urgent", "high", "medium", "notspec", "low"]
    cols = [F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(n)
            for v, n in zip(["1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW"], names)]
    return out.select("o_orderstatus", *cols)


@query("rank_suite", """
SELECT o_orderkey,
       CAST(NTILE(4) OVER w AS INT)        AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6)     AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6)        AS cume,
       CAST(DENSE_RANK() OVER w AS INT)    AS drank
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus
             ORDER BY o_totalprice, o_orderkey)
""")
def q_rank_suite(spark, sf_dir):
    """Keyed ranking family (ntile/percent_rank/cume_dist/dense_rank)
    WITHOUT ``Window.partitionBy(o_orderstatus)`` — o_orderstatus has 3
    values, so the keyed window caps parallelism at 3 tasks regardless
    of cluster size (72s at sf10). ``grouped_rank_suite`` range-
    partitions on (status, price, orderkey) so each status group SPANS
    partitions; ntile/percent_rank/cume_dist are closed forms over the
    distributed (_rn, _rank, _peers, _n) columns."""
    from .operators.rank import grouped_rank_suite, ntile_expr
    df = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    r = grouped_rank_suite(df, ["o_orderstatus"],
                           ["o_totalprice", "o_orderkey"])
    n, rk = F.col("_n"), F.col("_rank")
    return r.select(
        "o_orderkey",
        ntile_expr(F.col("_rn"), n, 4).cast("int").alias("quartile"),
        F.round(F.when(n > 1, (rk - 1) / (n - 1)).otherwise(F.lit(0.0)),
                6).alias("pct_rank"),
        F.round((rk + F.col("_peers") - 1) / n, 6).alias("cume"),
        F.col("_dense_rank").cast("int").alias("drank"))


@query("set_ops", """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
EXCEPT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
""")
def q_set_ops(spark, sf_dir):
    """Set difference (customers active in 1997 but churned in 1998) —
    EXCEPT compiles to a left-anti hash join on the full row."""
    df = _t(spark, sf_dir, "orders")

    def year(y):
        return df.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y+1}-01-01")
               .cast("timestamp"))).select("o_custkey")
    # subtract == EXCEPT (distinct): a key present in BOTH years must
    # vanish entirely (exceptAll would keep multiplicity leftovers)
    return year(1997).subtract(year(1998))


@query("upsert_latest", """
WITH u AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC)
           AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey AS latest_order, o_totalprice
FROM u WHERE rn = 1
""")
def q_upsert_latest(spark, sf_dir):
    """Latest-row-per-key (the merge/upsert building block for
    incremental ingestion without a table format)."""
    from .operators.upsert import latest_by_key
    df = _t(spark, sf_dir, "orders")
    out = latest_by_key(df, keys=["o_custkey"],
                        order_by=["o_orderdate", "o_orderkey"])
    return out.select("o_custkey",
                      F.col("o_orderkey").alias("latest_order"),
                      "o_totalprice")

@query("cube_sales", """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2)::DOUBLE
         AS sum_price,
       COUNT(*) AS cnt,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_cube_sales(spark, sf_dir):
    """CUBE with grouping_id — all 2^k aggregation levels in one pass
    (beyond-reference: the reference has no grouping-sets surface)."""
    df = _t(spark, sf_dir, "lineitem")
    return (df.cube("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum(F.col("l_extendedprice")
                                 .cast("decimal(12,2)")), 2)
                   .cast("double").alias("sum_price"),
                   F.count(F.lit(1)).alias("cnt"),
                   F.grouping_id().alias("gid")))

@query("pipeline_e2e", """
WITH q AS (
  SELECT doc_id, lang, text,
         md5(array_to_string(list_sort(list_distinct(
             string_split(LOWER(text), ' '))), ' ')) AS fp,
         string_split(text, ' ') AS toks
  FROM documents
  WHERE LENGTH(text) BETWEEN 64 AND 20000
), kept AS (
  -- fingerprint dedup: keep the smallest doc_id per token-set
  SELECT * FROM (
    SELECT q.*, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
    FROM q) WHERE rn = 1
), split AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN h < 0.9 THEN 'train'
              WHEN h >= 0.9 AND h < 0.95 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT kept.*,
               ('0x' || substr(md5(doc_id::VARCHAR || '#'), 1, 8))::BIGINT
                 / 4294967296.0 AS h
        FROM kept)
)
SELECT split, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM split GROUP BY split, lang
""")
def q_pipeline_e2e(spark, sf_dir):
    """The composed training-data pipeline in one plan: length filter ->
    fingerprint dedup (keep smallest id) -> deterministic train/val/test
    split -> per-(split, lang) token accounting. Each stage is the
    engine operator, chained; the whole thing is two shuffles
    (dedup window + final agg)."""
    from pyspark.sql import Window

    from .pipeline.sample import split_assign
    from .pipeline.text import fingerprint, token_count
    df = _t(spark, sf_dir, "documents")
    filtered = df.filter(F.length("text").between(64, 20000))
    fp = filtered.withColumn("fp", fingerprint("text"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (fp.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))
    split = split_assign(kept, "doc_id")
    return (split.withColumn("n_tokens", token_count("text"))
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("total_tokens")))

@query("dedup_components", f"""
WITH RECURSIVE {_LSH_BANDED_SQL},
ok AS (
  SELECT band, bv FROM banded
  GROUP BY band, bv HAVING COUNT(*) BETWEEN 2 AND 500
), kept AS (SELECT banded.* FROM banded JOIN ok USING (band, bv)),
star AS (
  SELECT MIN(doc_id) OVER (PARTITION BY band, bv) AS a, doc_id AS b
  FROM kept
), e AS (SELECT DISTINCT a, b FROM star WHERE a <> b),
und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
reach(a, b) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
  WHERE u.b <> r.a
),
univ AS (SELECT DISTINCT doc_id FROM kept)
SELECT u.doc_id AS node,
       LEAST(u.doc_id, MIN(r.b)) AS component
FROM univ u JOIN reach r ON r.a = u.doc_id
GROUP BY u.doc_id
""")
def q_dedup_components(spark, sf_dir):
    """Exact duplicate clusters: LSH candidates -> iterative min-label
    connected components. The iterative loop's fixpoint IS the
    transitive closure's min-reachable label, which a recursive CTE
    computes directly at oracle SF (closure pairs are quadratic in
    component size — fine at sf0.01, exactly why the iterative
    min-label form exists for the corpus-scale path)."""
    from .pipeline.dedup import minhash_lsh_components
    df = _t(spark, sf_dir, "documents")
    # one bucket-min window feeds the star edges (same transitive
    # closure as the clique pairs, O(|bucket|) edges) AND the bucket-min
    # seed labels, so the iterative loop usually needs a single
    # convergence round; the md5 signature cache lets DuckDB reproduce
    # the exact bucketing (same basis as the lsh_star_edges oracle)
    return minhash_lsh_components(df, num_hashes=16, bands=2,
                                  max_bucket_size=500,
                                  sigs=_sig_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Event analytics (operators/events.py) + LM/collocation stats (pipeline/ir)
# ---------------------------------------------------------------------------

@query("user_features", """
SELECT event_id, user_id,
       COUNT(*) OVER w1 AS f_cnt_3600s,
       ROUND(SUM(value) OVER w1, 6) AS f_sum_3600s,
       COUNT(*) OVER w7 AS f_cnt_604800s,
       ROUND(SUM(value) OVER w7, 6) AS f_sum_604800s
FROM events
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
  w7 AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 604799999999 PRECEDING AND CURRENT ROW)
""")
def q_user_features(spark, sf_dir):
    """Point-in-time trailing-window features per event (1h + 7d count
    and value-sum per user) — the training-data feature-extraction shape:
    one sorted exchange on user_id shared by all window lengths, leakage-
    free by frame construction."""
    from .operators.events import trailing_features
    df = _t(spark, sf_dir, "events")
    out = trailing_features(df, "ts", "user_id", "value",
                            windows_seconds=[3600, 604800])
    return out.select("event_id", "user_id",
                      "f_cnt_3600s", "f_sum_3600s",
                      "f_cnt_604800s", "f_sum_604800s")


@query("event_transitions", """
WITH o AS (
  SELECT event_type AS from_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
)
SELECT from_type, to_type, COUNT(*) AS n
FROM o WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
""")
def q_event_transitions(spark, sf_dir):
    """Markov transition counts between consecutive event types per user
    (one per-user LEAD window + one |types|^2 grouped count); ties on ts
    broken by event_id for cross-engine determinism."""
    from .operators.events import event_transitions
    df = _t(spark, sf_dir, "events")
    return event_transitions(df, "ts", "user_id", "event_type",
                             tiebreak_col="event_id")


@query("cohort_retention", """
WITH a AS (
  SELECT user_id, YEAR(ts) * 12 + MONTH(ts) AS m FROM events
), f AS (
  SELECT user_id, MIN(m) AS m0 FROM a GROUP BY user_id
)
SELECT CAST(MAKE_DATE(CAST((m0 - 1) // 12 AS INT),
                 CAST((m0 - 1) % 12 AS INT) + 1, 1) AS TIMESTAMP)
         AS cohort_month,
       CAST(m - m0 AS INT) AS month_index,
       COUNT(DISTINCT a.user_id) AS n_active
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY cohort_month, month_index
""")
def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-activity month, distinct
    actives per months-since-cohort index (integer month arithmetic —
    portable across engines)."""
    from .operators.events import cohort_retention
    df = _t(spark, sf_dir, "events")
    return cohort_retention(df, "ts", "user_id")


@query("pmi_bigrams", """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
idx AS (SELECT t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        FROM toks),
big AS (
  SELECT t[i] AS tok_a, t[i+1] AS tok_b, COUNT(*) AS n_ab
  FROM idx GROUP BY tok_a, tok_b HAVING COUNT(*) >= 20
),
uni AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok
),
tu AS (SELECT SUM(n)::DOUBLE AS tu FROM uni),
tb AS (SELECT SUM(greatest(len(t) - 1, 0))::DOUBLE AS tb FROM toks)
SELECT b.tok_a, b.tok_b, b.n_ab,
       ROUND(LN((b.n_ab / tb) / ((ua.n / tu) * (ub.n / tu))), 6) AS pmi
FROM big b
JOIN uni ua ON ua.tok = b.tok_a
JOIN uni ub ON ub.tok = b.tok_b, tu, tb
""")
def q_pmi_bigrams(spark, sf_dir):
    """Collocation discovery: PMI of adjacent token pairs with count >= 20
    (min_count filter BEFORE the vocabulary joins; totals broadcast)."""
    from .pipeline.ir import pmi_collocations
    df = _t(spark, sf_dir, "documents")
    return pmi_collocations(df, min_count=20)


@query("unigram_logprob", """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
uni AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT SUM(n)::DOUBLE AS t FROM uni)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(AVG(LN(n / t)), 6) AS avg_logprob
FROM toks JOIN uni USING (tok), tot
GROUP BY doc_id
""")
def q_unigram_logprob(spark, sf_dir):
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — LM-style quality signal (perplexity proxy)."""
    from .pipeline.ir import unigram_logprob
    df = _t(spark, sf_dir, "documents")
    return unigram_logprob(df)


@query("covariance_matrix", """
SELECT * FROM (
  SELECT 'l_quantity' AS col_x, 'l_quantity' AS col_y,
         ROUND(covar_samp(l_quantity, l_quantity), 4) AS cov FROM lineitem
  UNION ALL SELECT 'l_quantity', 'l_discount',
         ROUND(covar_samp(l_quantity, l_discount), 4) FROM lineitem
  UNION ALL SELECT 'l_quantity', 'l_tax',
         ROUND(covar_samp(l_quantity, l_tax), 4) FROM lineitem
  UNION ALL SELECT 'l_discount', 'l_discount',
         ROUND(covar_samp(l_discount, l_discount), 4) FROM lineitem
  UNION ALL SELECT 'l_discount', 'l_tax',
         ROUND(covar_samp(l_discount, l_tax), 4) FROM lineitem
  UNION ALL SELECT 'l_tax', 'l_tax',
         ROUND(covar_samp(l_tax, l_tax), 4) FROM lineitem
)
""")
def q_covariance_matrix(spark, sf_dir):
    """Pairwise sample covariance (upper triangle, long form) — ONE wide
    aggregation; the k x k matrix that feeds driver-side PCA (ml/pca.py)."""
    from .ml.pca import covariance_plan
    df = _t(spark, sf_dir, "lineitem")
    out = covariance_plan(df, ["l_quantity", "l_discount", "l_tax"])
    return out.select("col_x", "col_y", F.round("cov", 4).alias("cov"))


@query("incremental_stats", """
WITH a AS (
  SELECT user_id, COUNT(value) AS n, SUM(value) AS s,
         SUM(value * value) AS s2, MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE event_id % 2 = 0 GROUP BY user_id
), b AS (
  SELECT user_id, COUNT(value) AS n, SUM(value) AS s,
         SUM(value * value) AS s2, MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE event_id % 2 = 1 GROUP BY user_id
), m AS (
  SELECT COALESCE(a.user_id, b.user_id) AS user_id,
         COALESCE(a.n, 0) + COALESCE(b.n, 0) AS n,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS s,
         COALESCE(a.s2, 0) + COALESCE(b.s2, 0) AS s2,
         LEAST(COALESCE(a.mn, b.mn), COALESCE(b.mn, a.mn)) AS mn,
         GREATEST(COALESCE(a.mx, b.mx), COALESCE(b.mx, a.mx)) AS mx
  FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
)
SELECT user_id, n,
       FLOOR(s * 1000000 + 0.5) / 1000000 AS total,
       FLOOR(FLOOR(s * 1000000 + 0.5) / 1000000 / n * 1000000 + 0.5)
         / 1000000 AS mean,
       CASE WHEN n >= 2 THEN
         FLOOR(SQRT(GREATEST((s2 - s * s / n) / (n - 1), 0))
               * 1000000 + 0.5) / 1000000 END AS std,
       mn AS min, mx AS max
FROM m
""")
def q_incremental_stats(spark, sf_dir):
    """Incremental aggregate maintenance: per-user stats from TWO partial
    state tables (even/odd event slices) merged and finalized — the
    daily-slice update pattern; algebraic pieces so merge order is
    irrelevant. Equals a direct aggregation by construction."""
    from .operators.incremental import (finalize_state, merge_states,
                                        partial_aggregate)
    df = _t(spark, sf_dir, "events")
    a = partial_aggregate(df.filter(F.col("event_id") % 2 == 0),
                          ["user_id"], "value")
    b = partial_aggregate(df.filter(F.col("event_id") % 2 == 1),
                          ["user_id"], "value")
    return finalize_state(merge_states(a, b, ["user_id"]), ["user_id"])


@query("zorder_keys", """
WITH z AS (
  SELECT o_orderkey,
         o_custkey % 256 AS x, (o_orderkey // 7) % 256 AS y
  FROM orders
)
SELECT o_orderkey,
       CAST(list_sum(list_transform(range(0, 8), b ->
           ((x >> b) & 1) * (1::BIGINT << (2 * b))
         + ((y >> b) & 1) * (1::BIGINT << (2 * b + 1)))) AS BIGINT)
         AS zvalue
FROM z
""")
def q_zorder_keys(spark, sf_dir):
    """Morton/Z-order clustering key over two 8-bit dimensions — the
    multi-dimensional data-skipping layout (sinks.zorder_by range-
    partitions + sorts on this value so every parquet file covers a
    small rectangle of the key space). Pure native bit expression;
    dimensions are deterministic modular arithmetic so the oracle checks
    the interleave bit-for-bit."""
    from .sources.sinks import zorder_value
    df = _t(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("long")
    y = ((F.col("o_orderkey") / 7).cast("long") % 256).cast("long")
    return df.select("o_orderkey",
                     zorder_value([x, y], bits=8).alias("zvalue"))


@query("resample_4h", """
WITH e AS (
  SELECT user_id AS k, epoch_us(ts) // 14400000000 AS b, value AS v
  FROM events
), pb AS (
  SELECT k, b, ROUND(SUM(v), 6) AS val FROM e GROUP BY k, b
), spans AS (
  SELECT k, MIN(b) AS lo, MAX(b) AS hi FROM e GROUP BY k
), grid AS (
  SELECT k, unnest(range(lo, hi + 1)) AS b FROM spans
), j AS (
  SELECT g.k, g.b, pb.val FROM grid g LEFT JOIN pb USING (k, b)
)
SELECT k AS user_id, make_timestamp(b * 14400000000) AS bucket_ts,
       LAST_VALUE(val IGNORE NULLS) OVER (
         PARTITION BY k ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value
FROM j
""")
def q_resample_4h(spark, sf_dir):
    """Per-user 4-hour resample of event values with forward fill —
    irregular log -> regular grid (F.sequence fan-out, no calendar cross
    join; ffill via last_value IGNORE NULLS on the keyed exchange)."""
    from .operators.timeseries import resample
    df = _t(spark, sf_dir, "events")
    return resample(df, "ts", "user_id", 14400, "value",
                    agg="sum", fill="ffill")


@query("scd2_history", """
WITH o AS (
  SELECT user_id, event_type, ts,
         LAG(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changed AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM o WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn) AS valid_to
FROM changed
""")
def q_scd2_history(spark, sf_dir):
    """SCD2 validity intervals from the event log (state = event_type):
    change rows via null-safe LAG compare, intervals closed with LEAD —
    the warehouse dimension-history build, one sorted exchange."""
    from .operators.timeseries import scd2_history
    df = _t(spark, sf_dir, "events")
    return scd2_history(df, "user_id", "ts", ["event_type"],
                        tiebreak_col="event_id")


@query("constraint_report", """
SELECT * FROM (
  SELECT 'not_null' AS "constraint", 'o_custkey' AS "column",
         ROUND(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE
               / GREATEST(COUNT(*), 1), 6) AS metric,
         0.0 AS threshold,
         SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE
           / GREATEST(COUNT(*), 1) <= 1e-12 AS passed
  FROM orders
  UNION ALL
  SELECT 'in_range', 'o_totalprice',
         ROUND(SUM(CASE WHEN o_totalprice IS NOT NULL AND
                   (o_totalprice < 0 OR o_totalprice > 1000000)
                   THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1), 6),
         0.0,
         SUM(CASE WHEN o_totalprice IS NOT NULL AND
             (o_totalprice < 0 OR o_totalprice > 1000000)
             THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1) <= 1e-12
  FROM orders
  UNION ALL
  SELECT 'isin', 'o_orderstatus',
         ROUND(SUM(CASE WHEN o_orderstatus IS NOT NULL AND
                   o_orderstatus NOT IN ('O','F','P')
                   THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1), 6),
         0.0,
         SUM(CASE WHEN o_orderstatus IS NOT NULL AND
             o_orderstatus NOT IN ('O','F','P')
             THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1) <= 1e-12
  FROM orders
  UNION ALL
  SELECT 'matches', 'o_orderpriority',
         ROUND(SUM(CASE WHEN o_orderpriority IS NOT NULL AND
                   regexp_matches(o_orderpriority, '^[1-5]-')
                   THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1), 6),
         1.0,
         SUM(CASE WHEN o_orderpriority IS NOT NULL AND
             regexp_matches(o_orderpriority, '^[1-5]-')
             THEN 1 ELSE 0 END)::DOUBLE / GREATEST(COUNT(*), 1)
           >= 1.0 - 1e-12
  FROM orders
  UNION ALL
  SELECT 'min_rows', '*', COUNT(*)::DOUBLE, 1000.0,
         COUNT(*) >= 1000 - 1e-12
  FROM orders
  UNION ALL
  SELECT 'unique', 'o_orderkey',
         ROUND(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE
               / GREATEST(COUNT(*), 1), 6), 0.0,
         SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END)::DOUBLE
           / GREATEST(COUNT(*), 1) <= 1e-12
  FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY o_orderkey)
) ORDER BY "constraint", "column"
""")
def q_constraint_report(spark, sf_dir):
    """Deequ-style declarative data-quality gate: the whole constraint
    suite (nullability, range, membership, regex shape, row floor)
    compiles into ONE aggregation pass; exact uniqueness adds its one
    unavoidable grouped pass."""
    from .operators.quality import Check, constraint_report
    df = _t(spark, sf_dir, "orders")
    chk = (Check()
           .not_null("o_custkey")
           .in_range("o_totalprice", 0, 1_000_000)
           .isin("o_orderstatus", ["O", "F", "P"])
           .matches("o_orderpriority", "^[1-5]-")
           .min_rows(1000)
           .unique("o_orderkey"))
    return constraint_report(df, chk)


@query("auc_by_group", """
WITH g AS (
  SELECT event_type, ROUND(value, 6) AS s,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1.0 ELSE 0.0 END) AS pos,
         SUM(CASE WHEN user_id % 2 = 1 THEN 0.0 ELSE 1.0 END) AS neg
  FROM events GROUP BY event_type, s
), c AS (
  SELECT event_type, s, pos, neg,
         SUM(pos) OVER (PARTITION BY event_type ORDER BY s DESC
                        ROWS UNBOUNDED PRECEDING) AS tp,
         SUM(pos) OVER (PARTITION BY event_type) AS P,
         SUM(neg) OVER (PARTITION BY event_type) AS N
  FROM g
)
SELECT event_type,
       ROUND(SUM(CASE WHEN P > 0 AND N > 0
                 THEN (neg / N) * (2 * tp - pos) / (2 * P) END), 6) AS auc,
       CAST(MAX(P) AS BIGINT) AS n_pos, CAST(MAX(N) AS BIGINT) AS n_neg
FROM c GROUP BY event_type
""")
def q_auc_by_group(spark, sf_dir):
    """Segment-sliced model evaluation: ROC AUC per event_type in ONE
    plan (group-partitioned cumulative windows, lag-free trapezoid) —
    no per-segment driver loop, no single-partition stage."""
    from .ml.evaluation import grouped_auc
    df = _t(spark, sf_dir, "events")
    scored = df.select("event_type",
                       F.round("value", 6).alias("score"),
                       (F.col("user_id") % 2 == 1).cast("double")
                       .alias("label"))
    return grouped_auc(scored, ["event_type"])


@query("dup_cluster_histogram", """
WITH fp AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             string_split(LOWER(text), ' '))), ' ')) AS f
  FROM documents
), sizes AS (
  SELECT f, COUNT(*) AS sz FROM fp GROUP BY f
)
SELECT sz AS cluster_size, COUNT(*) AS n_clusters
FROM sizes GROUP BY sz
""")
def q_dup_cluster_histogram(spark, sf_dir):
    """Dedup diagnostics: fingerprint-duplicate cluster-size histogram
    (two keyed aggregations, output |distinct sizes| rows) — the number
    you read before choosing dedup strategy and cap sizes."""
    from .pipeline.text import fingerprint
    df = _t(spark, sf_dir, "documents")
    return (df.select(fingerprint("text").alias("f"))
            .groupBy("f").agg(F.count(F.lit(1)).alias("sz"))
            .groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters")))


@query("tpch_q7", """
SELECT supp_nation, cust_nation, yr,
       ROUND(SUM(volume), 2)::DOUBLE AS revenue
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         YEAR(l.l_shipdate) AS yr,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS volume
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
) GROUP BY supp_nation, cust_nation, yr
""")
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): fact-fact join on orderkey shuffles;
    customer/supplier/nation dims broadcast; the nation-pair disjunction
    is pushed below the aggregation."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(F.col("n_nationkey").alias("sn_key"),
                  F.col("n_name").alias("supp_nation"))
    cn = n.select(F.col("n_nationkey").alias("cn_key"),
                  F.col("n_name").alias("cust_nation"))
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
          .join(F.broadcast(c), o.o_custkey == c.c_custkey)
          .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
          .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
          .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
          .filter(((F.col("supp_nation") == "NATION_1") &
                   (F.col("cust_nation") == "NATION_2")) |
                  ((F.col("supp_nation") == "NATION_2") &
                   (F.col("cust_nation") == "NATION_1"))))
    # money sums in exact DECIMAL: double accumulation order differs
    # between engines (and between partitionings of the same engine) —
    # at sf1 that flipped rounded cents; decimal sums are exact, so the
    # result is identical at ANY scale and partition count
    vol = (F.col("l_extendedprice").cast("decimal(12,2)") *
           (F.lit(1) - F.col("l_discount").cast("decimal(12,2)")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").alias("yr"))
            .agg(F.round(F.sum(vol), 2).cast("double")
                 .alias("revenue")))


@query("tpch_q13", """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) GROUP BY c_count
""")
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT join keeps
    order-less customers (count 0); predicate lives IN the join
    condition, not a post-filter (a WHERE would drop the NULL rows the
    query exists to count)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = c.join(o, (c.c_custkey == o.o_custkey) &
               (o.o_orderpriority != "1-URGENT"), "left")
    return (j.groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist")))


@query("tpch_q17", """
WITH avg_qty AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                  AS DOUBLE) / 7.0, 4) AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN avg_qty a ON l.l_partkey = a.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.threshold
""")
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the per-part average is
    a self-aggregation joined back on partkey — co-partitioned with the
    fact scan (same key), part dim broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = (l.groupBy(F.col("l_partkey").alias("a_key"))
             .agg((F.lit(0.2) * F.avg("l_quantity")).alias("threshold")))
    j = (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
          .join(avg_q, l.l_partkey == F.col("a_key"))
          .filter(F.col("l_quantity") < F.col("threshold")))
    return j.agg(F.round(F.sum(F.col("l_extendedprice")
                               .cast("decimal(12,2)")).cast("double")
                         / 7.0, 4).alias("avg_yearly"))


# ---------------------------------------------------------------------------
# TPC-H round 3: Q2 Q8 Q9 Q11 Q12 Q15 Q16 Q20 Q21 (adapted — this schema
# has no partsupp table, so lineitem's (l_partkey, l_suppkey) pairs serve
# as the supply relation, and no commit/receipt dates, so ship-delay vs
# order date stands in for lateness).
# ---------------------------------------------------------------------------

@query("tpch_q2", """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eu AS (
  SELECT s_suppkey, s_acctbal, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), costs AS (
  SELECT p.p_partkey, p.p_name, eu.s_acctbal, eu.s_name, eu.n_name,
         ps_supplycost,
         MIN(ps_supplycost) OVER (PARTITION BY p.p_partkey) AS mincost
  FROM part p
  JOIN supply ON p.p_partkey = ps_partkey
  JOIN eu ON ps_suppkey = eu.s_suppkey
  WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       p_partkey, p_name, ROUND(ps_supplycost, 4) AS supplycost
FROM costs WHERE ps_supplycost = mincost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""")
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier (adapted: supply cost derives from
    lineitem unit prices; ref has no Spark analogue — correlated MIN
    subquery becomes a partitioned window over the part key, so the
    argmin is computed inside the existing partkey shuffle instead of a
    re-scanning subquery per row. Dims (region->nation->supplier)
    collapse via broadcast; only the supply aggregation shuffles."""
    from pyspark.sql import Window
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD"))
    l = _t(spark, sf_dir, "lineitem")
    supply = (l.groupBy(F.col("l_partkey").alias("ps_partkey"),
                        F.col("l_suppkey").alias("ps_suppkey"))
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("ps_supplycost")))
    j = (supply.join(F.broadcast(p),
                     supply.ps_partkey == p.p_partkey)
         .join(F.broadcast(s.select("s_suppkey", "s_acctbal", "s_name",
                                    "n_name")),
               supply.ps_suppkey == F.col("s_suppkey")))
    w = Window.partitionBy("p_partkey")
    best = (j.withColumn("mincost", F.min("ps_supplycost").over(w))
            .filter(F.col("ps_supplycost") == F.col("mincost")))
    return (best.select(F.round("s_acctbal", 2).alias("s_acctbal"),
                        "s_name", "n_name", "p_partkey", "p_name",
                        F.round("ps_supplycost", 4).alias("supplycost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
            .limit(100))


@query("tpch_q8", """
SELECT o_year,
       ROUND(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS mkt_share
FROM (
  SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem l
  JOIN orders o    ON l.l_orderkey = o.o_orderkey
  JOIN customer c  ON o.o_custkey = c.c_custkey
  JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
  JOIN region r    ON n1.n_regionkey = r.r_regionkey
  JOIN supplier s  ON l.l_suppkey = s.s_suppkey
  JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
  JOIN part p      ON l.l_partkey = p.p_partkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                          AND TIMESTAMP '1997-12-31'
) GROUP BY o_year
""")
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 national market share — all dims broadcast (part is the
    largest at 2k rows; at TPC-H scale part would shuffle-join instead,
    the code is unchanged because AQE picks the strategy from sizes);
    the only large-large shuffles are lineitem x orders on the order key
    and the customer join."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(n1.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"))
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"),
            F.lit("1997-12-31").cast("timestamp")))
    l = _t(spark, sf_dir, "lineitem")
    j = (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
         .join(F.broadcast(s.select("s_suppkey", "nation")),
               l.l_suppkey == F.col("s_suppkey"))
         .join(o, l.l_orderkey == o.o_orderkey)
         .join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = j.select(F.year("o_orderdate").cast("int").alias("o_year"),
                 vol.alias("volume"), "nation")
    share = F.sum(F.when(F.col("nation") == "NATION_5",
                         F.col("volume")).otherwise(F.lit(0.0)))
    return (j.groupBy("o_year")
            .agg(F.round(share / F.sum("volume"), 6).alias("mkt_share")))


@query("tpch_q9", """
SELECT nation, o_year, ROUND(SUM(amount), 2)::DOUBLE AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
           - CAST(0.5 AS DECIMAL(2,1))
             * CAST(p.p_retailprice AS DECIMAL(12,2))
             * CAST(l.l_quantity AS DECIMAL(12,2)) AS amount
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  WHERE p.p_name LIKE '%bolt%'
) GROUP BY nation, o_year
""")
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit (adapted: 0.5 * p_retailprice stands
    in for ps_supplycost) — the part-name filter prunes the broadcast
    part side before the fact join; the single large shuffle is
    lineitem x orders on the order key."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation"))
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    # exact DECIMAL money arithmetic — see tpch_q7 note
    amount = (F.col("l_extendedprice").cast("decimal(12,2)")
              * (F.lit(1) - F.col("l_discount").cast("decimal(12,2)"))
              - F.lit("0.5").cast("decimal(2,1)")
              * F.col("p_retailprice").cast("decimal(12,2)")
              * F.col("l_quantity").cast("decimal(12,2)"))
    j = (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
         .join(F.broadcast(sn), l.l_suppkey == F.col("s_suppkey"))
         .join(o, l.l_orderkey == o.o_orderkey)
         .select("nation", F.year("o_orderdate").cast("int").alias("o_year"),
                 amount.alias("amount")))
    return (j.groupBy("nation", "o_year")
            .agg(F.round(F.sum("amount"), 2).cast("double")
                 .alias("sum_profit")))


@query("tpch_q11", """
WITH val AS (
  SELECT l.l_partkey, SUM(l.l_quantity * p.p_retailprice) AS value
  FROM lineitem l
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY l.l_partkey
)
SELECT l_partkey, ROUND(value, 2) AS value
FROM val, (SELECT SUM(value) AS total FROM val)
WHERE value > 0.001 * total
""")
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 important stock (adapted: inventory value = shipped
    quantity x retail price for one nation's suppliers) — the HAVING
    scalar is a 1-row aggregate broadcast as a cross join, not a
    re-computation; the nation filter reaches the supplier broadcast
    before any lineitem rows move."""
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem")
    val = (l.join(F.broadcast(s.select("s_suppkey")),
                  l.l_suppkey == F.col("s_suppkey"))
           .join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                 l.l_partkey == F.col("p_partkey"))
           .groupBy("l_partkey")
           .agg(F.sum(F.col("l_quantity") * F.col("p_retailprice"))
                .alias("value")))
    total = val.agg(F.sum("value").alias("total"))
    return (val.crossJoin(F.broadcast(total))
            .filter(F.col("value") > 0.001 * F.col("total"))
            .select("l_partkey", F.round("value", 2).alias("value")))


@query("tpch_q12", """
SELECT CASE WHEN DATE_DIFF('day', o.o_orderdate, l.l_shipdate) > 365
            THEN 'slow'
            WHEN DATE_DIFF('day', o.o_orderdate, l.l_shipdate) > 60
            THEN 'medium' ELSE 'fast' END AS ship_speed,
       SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS high_line_count,
       SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY ship_speed
""")
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipping-mode priority (adapted: ship-delay buckets
    stand in for shipmode, commit/receipt dates absent) — one fact-fact
    shuffle on the order key, conditional counts in a single grouped
    pass over 3 output rows."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    delay = F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date"))
    speed = (F.when(delay > 365, "slow")
             .when(delay > 60, "medium").otherwise("fast"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    return (j.select(speed.alias("ship_speed"), high.alias("_high"))
            .groupBy("ship_speed")
            .agg(F.sum(F.when(F.col("_high"), 1).otherwise(0))
                 .alias("high_line_count"),
                 F.sum(F.when(~F.col("_high"), 1).otherwise(0))
                 .alias("low_line_count")))


@query("tpch_q15", """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       ROUND(r.total_revenue, 2)::DOUBLE AS total_revenue
FROM supplier s, revenue r
WHERE s.s_suppkey = r.supplier_no
  AND r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
""")
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier — the revenue view is computed ONCE and
    cached; its max is a 1-row broadcast, so the view is not rebuilt
    for the scalar subquery the way a naive SQL translation would."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    # exact DECIMAL revenue — with double sums the max-revenue WINNER
    # itself flipped at sf1 (two suppliers within accumulation noise);
    # decimal sums make the argmax well-defined at any scale
    rev = (l.groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                      * (F.lit(1) - F.col("l_discount")
                         .cast("decimal(12,2)")))
                .alias("total_revenue")))
    rev = rev.persist()
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    out = (rev.crossJoin(F.broadcast(mx))
           .filter(F.col("total_revenue") == F.col("mx"))
           .join(F.broadcast(s),
                 F.col("supplier_no") == F.col("s_suppkey"))
           .select("s_suppkey", "s_name",
                   F.round("total_revenue", 2).cast("double")
                   .alias("total_revenue"))
           .orderBy("s_suppkey"))
    return out


@query("tpch_q16", """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 5, 9, 14, 20, 28, 36, 45)
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""")
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 supplier count by part attributes (adapted: negative
    account balance stands in for the complaints filter; supply relation
    = lineitem) — NOT IN over a provably non-null key set becomes a
    LEFT ANTI broadcast join; distinct count is exact, one shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "MEDIUM") &
        F.col("p_size").isin(1, 5, 9, 14, 20, 28, 36, 45))
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey"))
    l = _t(spark, sf_dir, "lineitem")
    j = (l.join(F.broadcast(bad), "l_suppkey", "left_anti")
         .join(F.broadcast(p), l.l_partkey == p.p_partkey))
    return (j.groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


@query("tpch_q20", """
SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_7'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE 'small%'
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey HAVING SUM(l.l_quantity) > 50)
ORDER BY s.s_name
""")
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential part promotion (adapted) — the inner
    aggregation runs once over the pruned fact scan; its surviving
    supplier keys LEFT SEMI-join the (tiny, nation-filtered) supplier
    dim. At TPC-H scale the semi-join side is |suppliers|, so the probe
    broadcasts."""
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) &
        (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    qualifying = (l.join(F.broadcast(p.select("p_partkey")),
                         l.l_partkey == F.col("p_partkey"))
                  .groupBy("l_suppkey")
                  .agg(F.sum("l_quantity").alias("_q"))
                  .filter(F.col("_q") > 50)
                  .select(F.col("l_suppkey").alias("s_suppkey")))
    return (s.join(qualifying, "s_suppkey", "left_semi")
            .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
            .orderBy("s_name"))


@query("tpch_q21", """
WITH late AS (
  SELECT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND DATE_DIFF('day', o.o_orderdate, l.l_shipdate) > 365
), stats AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_orderkey
), late_stats AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_late,
         MIN(l_suppkey) AS only_late
  FROM late GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM late l1
JOIN stats st       ON l1.l_orderkey = st.l_orderkey
JOIN late_stats lst ON l1.l_orderkey = lst.l_orderkey
JOIN supplier s     ON l1.l_suppkey = s.s_suppkey
WHERE st.n_supp >= 2 AND lst.n_late = 1 AND lst.only_late = l1.l_suppkey
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name LIMIT 100
""")
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 suppliers who kept orders waiting (adapted: late =
    shipped >365 days after the order date on a finished order). The
    textbook EXISTS / NOT EXISTS pair of correlated self-joins is
    rewritten as per-order aggregates: an order qualifies when it has
    >= 2 suppliers but exactly ONE late supplier — same semantics, and
    the rewrite replaces two extra passes over lineitem with one
    grouped job each, all co-partitioned on the order key."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    delay = F.datediff(F.col("l_shipdate").cast("date"),
                       F.col("o_orderdate").cast("date"))
    late = (l.join(o, l.l_orderkey == o.o_orderkey)
            .filter(delay > 365)
            .select("l_orderkey", "l_suppkey"))
    late = late.persist()
    # the multi-supplier count is only consulted for orders that HAVE a
    # late line (the driving join starts from `late`), so the heaviest
    # aggregate — countDistinct over all of lineitem — is semi-join
    # pruned to late orders first: the broadcast key set costs |late
    # orders| longs, the groupBy then runs on the pruned fraction
    stats = (l.join(F.broadcast(late.select("l_orderkey").distinct()),
                    "l_orderkey", "left_semi")
             .groupBy("l_orderkey")
             # ">= 2 distinct suppliers" is just min != max — a plain
             # min/max agg instead of countDistinct's double-shuffle
             # distinct expansion (same trick for "exactly one late
             # supplier" below)
             .agg((F.min("l_suppkey") != F.max("l_suppkey"))
                  .alias("multi_supp")))
    late_stats = (late.groupBy(F.col("l_orderkey").alias("lo_key"))
                  .agg((F.min("l_suppkey") == F.max("l_suppkey"))
                       .alias("one_late"),
                       F.min("l_suppkey").alias("only_late")))
    s = _t(spark, sf_dir, "supplier")
    j = (late.join(stats, "l_orderkey")
         .join(late_stats, late.l_orderkey == F.col("lo_key"))
         .filter(F.col("multi_supp") & F.col("one_late") &
                 (F.col("only_late") == F.col("l_suppkey")))
         .join(F.broadcast(s), late.l_suppkey == s.s_suppkey))
    return (j.groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name").limit(100))


# ---------------------------------------------------------------------------
# Training-pipeline round 3: budgeted sampling, normalization, redaction,
# keep-best dedup, Bloom-prefiltered decontamination
# ---------------------------------------------------------------------------

@query("token_budget_sample", """
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         ('0x' || substr(md5(doc_id::VARCHAR || '#'), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
), c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id) AS cum
  FROM t
)
SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok
FROM c WHERE cum <= 20000
""")
def q_token_budget_sample(spark, sf_dir):
    """Per-source token-budget cap: deterministic hash-priority order,
    distributed per-group running totals (grouped ranged_cumsum — no
    per-source single-task window)."""
    from .pipeline.sample import token_budget_sample
    from .pipeline.text import token_count
    df = (_t(spark, sf_dir, "documents")
          .withColumn("n_tok", token_count("text").cast("long")))
    out = token_budget_sample(df, "doc_id", "n_tok", 20000, by="source")
    return out.select("doc_id", "source",
                      F.col("n_tok").cast("int").alias("n_tok"))


@query("normalize_text", """
SELECT doc_id,
       TRIM(regexp_replace(regexp_replace(LOWER(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
FROM documents
""")
def q_normalize_text(spark, sf_dir):
    """Canonical normalization (lower/strip/collapse) — dedup prep,
    pure codegen projection."""
    from .pipeline.text import normalize_text
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", normalize_text("text").alias("norm"))


@query("pii_redact", """
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         'https?://[^ ]+', '<URL>', 'g'),
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{9,}', '<ID>', 'g') AS redacted
FROM documents
""")
def q_pii_redact(spark, sf_dir):
    """PII redaction with typed placeholders (URL -> EMAIL -> ID order is
    the contract) — chained regexp_replace, map-only."""
    from .pipeline.text import pii_redact
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id", pii_redact("text").alias("redacted"))


@query("dedup_keep_best", f"""
WITH {_LSH_BANDED_SQL},
bm AS (
  SELECT doc_id, band, bv,
         MIN(doc_id) OVER (PARTITION BY band, bv) AS bucket_min
  FROM banded
), groups AS (
  SELECT doc_id, MIN(bucket_min) AS cluster_id FROM bm GROUP BY doc_id
), lab AS (
  SELECT d.doc_id, COALESCE(g.cluster_id, d.doc_id) AS cluster_id,
         LENGTH(d.text) AS quality
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
), best AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, doc_id) AS rn
  FROM lab
)
SELECT doc_id, cluster_id, CAST(quality AS INT) AS quality
FROM best WHERE rn = 1
""")
def q_dedup_keep_best(spark, sf_dir):
    """Near-dup dedup keeping the BEST doc per cluster (longest text,
    id tie-break) — LSH groups + bounded per-cluster argmax window."""
    from .pipeline.dedup import dedup_keep_best
    df = _t(spark, sf_dir, "documents")
    out = dedup_keep_best(df, num_hashes=16, bands=2,
                          max_bucket_size=None,
                          sigs=_sig_table(spark, sf_dir))
    return out.select("doc_id", "cluster_id",
                      F.col("quality").cast("int").alias("quality"))


@query("decontaminate_bloom", """
WITH fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
           string_split(LOWER(text), ' '))), ' ')) AS k
  FROM documents
), bench AS (SELECT DISTINCT k FROM fp WHERE doc_id % 17 = 0)
SELECT doc_id FROM fp
WHERE k NOT IN (SELECT k FROM bench)
""")
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination — same oracle as the exact path
    (no false negatives + exact verify of the maybe-set == identical
    result); the Bloom word table replaces the broadcast key list when
    the excluded set is itself huge."""
    from .pipeline.dedup import decontaminate_bloom
    df = _t(spark, sf_dir, "documents")
    bench = df.filter(F.col("doc_id") % 17 == 0)
    return decontaminate_bloom(df, bench, m_bits=1 << 20, k=5) \
        .select("doc_id")


@query("quality_logit", """
SELECT doc_id,
       ROUND(1.0 / (1.0 + EXP(-(-1.5
         + 0.002 * LENGTH(text)
         + 3.0 * (len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','in','is','it','that',
                                 'a','an','for','on','with','as'], t)))
             * 1.0 / len(string_split(text, ' ')))))), 6) AS p_keep
FROM documents
""")
def q_quality_logit(spark, sf_dir):
    """Model-based quality scoring at scale: a (pre-trained) logistic
    model evaluated as a pure codegen projection — the shape any
    classifier-based corpus filter (fastText-style quality, toxicity)
    compiles to once its features are columnar. No UDF, no shuffle."""
    from .pipeline.text import char_count, stopword_ratio
    df = _t(spark, sf_dir, "documents")
    z = (F.lit(-1.5) + 0.002 * char_count("text").cast("double")
         + 3.0 * stopword_ratio("text"))
    return df.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("p_keep"))


@query("brier_score", """
SELECT ROUND(AVG(POW(ROUND(1.0 / (1.0 + EXP(-3.0 * embedding[1]::DOUBLE)), 6)
                 - CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END, 2)), 6)
         AS brier,
       COUNT(*) AS n
FROM embeddings
""")
def q_brier_score(spark, sf_dir):
    """Proper scoring rule for probabilistic predictions — one agg.
    The raw synthetic score is sigmoid-mapped to a probability first
    (what a real classifier head emits)."""
    from .ml.evaluation import brier_score
    s = F.col("embedding")[0].cast("double")
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-3.0 * s))
    df = _t(spark, sf_dir, "embeddings").select(
        F.round(prob, 6).alias("score"),
        (F.col("label") >= 5).cast("double").alias("label"))
    out = brier_score(df)
    return out.select(F.round("brier", 6).alias("brier"), "n")


@query("calibration_curve", """
WITH s AS (
  SELECT ROUND(1.0 / (1.0 + EXP(-3.0 * embedding[1]::DOUBLE)), 6) AS p,
         CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
)
SELECT CAST(LEAST(FLOOR(p * 10), 9) AS INT) AS bin,
       COUNT(*) AS n,
       ROUND(AVG(p), 6) AS mean_score,
       ROUND(AVG(y), 6) AS pos_rate
FROM s GROUP BY bin
""")
def q_calibration_curve(spark, sf_dir):
    """Reliability curve over sigmoid-mapped probabilities —
    closed-form equal-width bins, ONE grouped job (the scalable
    calibration-plot input)."""
    from .ml.evaluation import calibration_bins
    s = F.col("embedding")[0].cast("double")
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-3.0 * s))
    df = _t(spark, sf_dir, "embeddings").select(
        F.round(prob, 6).alias("score"),
        (F.col("label") >= 5).cast("double").alias("label"))
    out = calibration_bins(df, n_bins=10)
    return out.select("bin", "n",
                      F.round("mean_score", 6).alias("mean_score"),
                      F.round("pos_rate", 6).alias("pos_rate"))


@query("leakage_safe_split", f"""
WITH {_LSH_BANDED_SQL},
bm AS (
  SELECT doc_id, band, bv,
         MIN(doc_id) OVER (PARTITION BY band, bv) AS bucket_min
  FROM banded
), groups AS (
  SELECT doc_id, MIN(bucket_min) AS cluster_id FROM bm GROUP BY doc_id
), lab AS (
  SELECT d.doc_id, d.source,
         COALESCE(g.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN groups g ON d.doc_id = g.doc_id
), sp AS (
  SELECT source, cluster_id,
         CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR || '#'), 1, 8))
                   ::BIGINT / 4294967296.0 < 0.9
              THEN 'train' ELSE 'holdout' END AS split
  FROM lab
)
SELECT split, source, COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters
FROM sp GROUP BY split, source
""")
def q_leakage_safe_split(spark, sf_dir):
    """Dedup-aware train/holdout split: the split key is the NEAR-DUP
    CLUSTER id, not the doc id, so near-duplicates can never straddle
    the split boundary (the classic eval-leakage bug). Composition of
    minhash_lsh_groups + split_assign; one grouped report."""
    from .pipeline.dedup import minhash_lsh_groups
    from .pipeline.sample import split_assign
    df = _t(spark, sf_dir, "documents")
    groups = minhash_lsh_groups(df, num_hashes=16, bands=2,
                                sigs=_sig_table(spark, sf_dir))
    lab = (df.join(groups, "doc_id", "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col("doc_id"))))
    sp = split_assign(lab, "cluster_id",
                      {"train": 0.9, "holdout": 0.1})
    return (sp.groupBy("split", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("cluster_id").alias("n_clusters")))


# PQ index artifacts live at a path the DuckDB oracle can reconstruct
# WITHOUT session state: {root}/hsq_pq_idx/n={rows}/fp={fingerprint}/ —
# the oracle globs the hive-partitioned cells, filters n to the
# registered embeddings view's COUNT(*), and picks the fp named by the
# atomically-updated n={rows}/_CURRENT pointer (see
# pipeline/index_cache.py for the full protocol rationale). Trained
# codebooks are deterministic (hash-ordered sample + seeded k-means),
# so re-saves are idempotent. fp dirs are IMMUTABLE once committed:
# two datasets with equal n coexist in sibling dirs instead of
# rmtree-racing one shared dir (round-8 advice).
_PQ_INDEX_META: dict = {}


def _dataset_fingerprint(sf_dir, table="embeddings"):
    from .pipeline.index_cache import dataset_fingerprint
    return dataset_fingerprint(sf_dir, table)


def _with_cache_root(sql):
    """Point an oracle SQL string's index-cache globs at the SAME root
    the Spark side writes (HSQ_INDEX_CACHE_ROOT, default /tmp).
    Resolved once at import — set the env var before the process
    starts; a mid-session change would desynchronize the two halves
    (round-9 advice: the hardcoded '/tmp/hsq_*' globs read stale
    artifacts when the env var redirected the writer)."""
    from .pipeline.index_cache import cache_root
    root = cache_root().rstrip("/")
    return sql.replace("'/tmp/hsq_", f"'{root}/hsq_") if root != "/tmp" \
        else sql


def _pq_index(spark, sf_dir):
    """fit->save ONCE per (session, sf_dir); returns
    (index, corpus_n, encoded_codes_df). The cached corpus count also
    serves ann_pq_exact, which needs rerank >= |corpus| without paying
    a count job per invocation.

    The corpus is ENCODED ONCE with the frozen index and persisted at
    ``<path>/codes.parquet``; every search then scans |docs| x m small
    ints instead of re-running the encode projection per query batch —
    the train-once/encode-once/search-encoded production shape (see
    ``ivfpq_topk``'s encoded= contract). The DuckDB oracle is
    unaffected: it reads only ``cells.parquet`` and re-derives the
    encode itself.

    Cross-process reuse is CONTENT-ADDRESSED: the dataset fingerprint
    is part of the directory path, the ``_FINGERPRINT`` marker is
    committed last (presence => cells AND codes are complete and were
    built from exactly this data, so fit AND encode are both skipped),
    and the per-n ``_CURRENT`` pointer is re-aimed on every build or
    cache-hit so the DuckDB oracle reads the same artifacts this
    session just used (pipeline/index_cache.py)."""
    from .pipeline.ann_index import PQIndex
    from .pipeline.index_cache import IndexCache
    key = (id(spark), sf_dir)
    meta = _PQ_INDEX_META.get(key)
    if meta is None:
        df = _t(spark, sf_dir, "embeddings")
        n = df.count()
        cache = IndexCache("hsq_pq_idx")
        fp = _dataset_fingerprint(sf_dir)
        path = cache.dir_for(n, fp)
        codes_path = f"{path}/codes.parquet"
        if not cache.is_committed(n, fp):
            PQIndex.fit(df, m=16, nbits=4).save(path, spark)
            idx = PQIndex.load(spark, path)
            (idx.encode(df).select("vec_id", "pq_code")
             .write.mode("overwrite").parquet(codes_path))
            cache.commit(n, fp)
        else:
            idx = PQIndex.load(spark, path)
            cache.point_current(n, fp)
        cache.prune_siblings(n, fp)     # age-gated GC of stale same-n dirs
        meta = (idx, n, spark.read.parquet(codes_path))
        _PQ_INDEX_META[key] = meta
    return meta


_ANN_PQ_SQL = _with_cache_root("""
WITH cur AS (
  -- which fp=... dir the Spark side just used for THIS corpus size:
  -- the atomically-replaced _CURRENT pointer under the n= parent
  SELECT trim(content) AS fp
  FROM read_text('/tmp/hsq_pq_idx/*/_CURRENT')
  WHERE CAST(regexp_extract(filename, 'n=(\\d+)', 1) AS BIGINT)
        = (SELECT COUNT(*) FROM embeddings)
), books AS (
  SELECT subspace, code, pos, val
  FROM read_parquet('/tmp/hsq_pq_idx/*/*/cells.parquet/*.parquet',
                    hive_partitioning = 1)
  WHERE CAST(n AS BIGINT) = (SELECT COUNT(*) FROM embeddings)
    AND fp = (SELECT fp FROM cur)
), cent AS (
  SELECT subspace, code, list(val ORDER BY pos) AS cv
  FROM books GROUP BY subspace, code
), c AS (
  -- L2-normalized corpus vectors (the encoder normalizes before
  -- quantizing; dim = 64, m = 16 -> dsub = 4)
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_sum(list_transform(
                    embedding::DOUBLE[], y -> y * y)))) AS v
  FROM embeddings
), enc AS (
  -- per-subspace nearest centroid, ties to the LOWEST code (numpy
  -- argmin contract)
  SELECT vec_id, subspace, code FROM (
    SELECT c.vec_id, ct.subspace, ct.code,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id, ct.subspace
             ORDER BY list_distance(
               c.v[(ct.subspace * 4 + 1):(ct.subspace * 4 + 4)], ct.cv),
               ct.code) AS rn
    FROM c CROSS JOIN cent ct)
  WHERE rn = 1
), recon AS (
  -- ADC identity: sum_j <q_subj, book[j, code_j]> = <q, reconstruction>
  SELECT e.vec_id, flatten(list(ct.cv ORDER BY e.subspace)) AS r
  FROM enc e JOIN cent ct USING (subspace, code)
  GROUP BY e.vec_id
), q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_sum(list_transform(
                    embedding::DOUBLE[], y -> y * y)))) AS qv
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 100000
), adc AS (
  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         list_inner_product(q.qv, r.r) AS s
  FROM q CROSS JOIN recon r
  WHERE q.vec_id != r.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id ASC) AS rn
    FROM adc)
  WHERE rn <= 50
)
SELECT * FROM (
  SELECT s.query_id, s.neighbor_id,
         ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ne.embedding::DOUBLE[]), 6) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
                          ne.embedding::DOUBLE[]), 6) DESC,
                    s.neighbor_id ASC) AS INT) AS rank
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
) WHERE rank <= 5
""")


@query("ann_pq", _ANN_PQ_SQL)
def q_ann_pq(spark, sf_dir):
    """PQ/ADC approximate top-k through the PERSISTED index (fit->save
    once per session, load->search per call). Fully value-checked: the
    k-means TRAINING is iterative (not SQL), but the trained codebooks
    are exported as parquet cells, and everything downstream — encode
    (argmin per subspace), the ADC LUT-gather scan (= dot with the PQ
    reconstruction), the top-50 shortlist, the exact-cosine rerank —
    is reproduced by the DuckDB oracle from those cells, closing the
    one remaining no-oracle query of rounds 1-5. The query set is every
    50th id CAPPED at 2000 queries — SF-independent bound so the
    driver-side LUT stays fixed-size at any corpus scale. Round 7: the
    ADC scan reads the PERSISTED codes (encode-once at index build —
    see ``_pq_index``) instead of re-encoding the raw corpus per
    search; raw vectors are touched only by the bounded rerank join."""
    idx, _, codes = _pq_index(spark, sf_dir)
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter((F.col("vec_id") % 50 == 0)
                           & (F.col("vec_id") < 100_000))
    # dtype pinned: the DuckDB oracle reproduces the ADC shortlist in
    # DOUBLE; the library's production default is fp32 (see pq_topk)
    return idx.search(df, queries_df, k=5, rerank=50, encoded=codes,
                      dtype="float64")


@query("ann_pq_exact", _ANN_EXACT_SQL)
def q_ann_pq_exact(spark, sf_dir):
    """PQ/ADC exercised through its EXACT switch: ``rerank`` >= corpus
    size keeps every ADC candidate, so the encode->LUT->ADC->rerank
    machinery all runs and the exact-cosine rescue pass makes the
    result equal brute force — value-checked against the same oracle
    as ann_topk/ann_ivf. The corpus count comes from the session-cached
    index metadata (no extra count job inside the timed region); the
    ADC pass scans the persisted codes (see ``_pq_index``)."""
    idx, n, codes = _pq_index(spark, sf_dir)
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter(F.col("vec_id") < 8)
    out = idx.search(df, queries_df, k=5, rerank=n, encoded=codes,
                     dtype="float64")
    return (out.withColumnRenamed("score", "cosine")
            .withColumn("rank", F.col("rank").cast("int")))


# fit->save ONCE per (session, sf_dir) — see _pq_index; the stable
# /tmp path (keyed by corpus count like _pq_index) lets the DuckDB
# oracle read the SAME trained centroids + residual codebooks
_IVFPQ_INDEX_META: dict = {}


def _ivfpq_index(spark, sf_dir):
    """Same content-addressed cross-process cache as ``_pq_index``:
    fp-in-path immutable dirs, marker-last commit, per-n _CURRENT
    pointer for the oracle (pipeline/index_cache.py)."""
    from .pipeline.ann_index import IVFPQIndex
    from .pipeline.index_cache import IndexCache
    key = (id(spark), sf_dir)
    meta = _IVFPQ_INDEX_META.get(key)
    if meta is None:
        df = _t(spark, sf_dir, "embeddings")
        n = df.count()
        cache = IndexCache("hsq_ivfpq_idx")
        fp = _dataset_fingerprint(sf_dir)
        path = cache.dir_for(n, fp)
        if not cache.is_committed(n, fp):
            IVFPQIndex.fit(df, n_centroids=16, m=16, nbits=4) \
                      .save(path, spark)
            cache.commit(n, fp)
        else:
            cache.point_current(n, fp)
        cache.prune_siblings(n, fp)     # age-gated GC of stale same-n dirs
        meta = (IVFPQIndex.load(spark, path), n)
        _IVFPQ_INDEX_META[key] = meta
    return meta


# IVF-PQ ADC reproduced in SQL from the exported index: coarse cell by
# max inner product (ties to the LOWEST cell — numpy argmax contract),
# per-subspace residual code by min distance (ties to the lowest code),
# ADC score = <q, centroid + residual_reconstruction> (the LUT-sum
# identity), top-50 shortlist, exact-cosine rerank — the same
# verify-the-approximate-math convention as _ANN_PQ_SQL, extended by
# the cell-assignment and residual steps.
_ANN_IVFPQ_SQL = _with_cache_root("""
WITH cur AS (
  SELECT trim(content) AS fp
  FROM read_text('/tmp/hsq_ivfpq_idx/*/_CURRENT')
  WHERE CAST(regexp_extract(filename, 'n=(\\d+)', 1) AS BIGINT)
        = (SELECT COUNT(*) FROM embeddings)
), cc AS (
  SELECT cell, list(val ORDER BY pos) AS cv
  FROM read_parquet('/tmp/hsq_ivfpq_idx/*/*/cells.parquet/*.parquet',
                    hive_partitioning = 1)
  WHERE CAST(n AS BIGINT) = (SELECT COUNT(*) FROM embeddings)
    AND fp = (SELECT fp FROM cur)
  GROUP BY cell
), bc AS (
  SELECT subspace, code, list(val ORDER BY pos) AS bv
  FROM read_parquet('/tmp/hsq_ivfpq_idx/*/*/books.parquet/*.parquet',
                    hive_partitioning = 1)
  WHERE CAST(n AS BIGINT) = (SELECT COUNT(*) FROM embeddings)
    AND fp = (SELECT fp FROM cur)
  GROUP BY subspace, code
), v AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
             x -> x / sqrt(list_sum(list_transform(
                    embedding::DOUBLE[], y -> y * y)))) AS v
  FROM embeddings
), assign AS (
  -- nearest coarse centroid by inner product, ties to the lowest cell
  SELECT vec_id, v, cv FROM (
    SELECT v.vec_id, v.v, cc.cv,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_inner_product(v.v, cc.cv) DESC, cc.cell) AS rn
    FROM v CROSS JOIN cc)
  WHERE rn = 1
), resid AS (
  SELECT vec_id, cv,
         list_transform(range(1, 65), i -> v[i] - cv[i]) AS rv
  FROM assign
), enc AS (
  -- per-subspace nearest residual centroid (dsub = 4), ties low code
  SELECT vec_id, subspace, code FROM (
    SELECT r.vec_id, b.subspace, b.code,
           ROW_NUMBER() OVER (
             PARTITION BY r.vec_id, b.subspace
             ORDER BY list_distance(
               r.rv[(b.subspace * 4 + 1):(b.subspace * 4 + 4)], b.bv),
               b.code) AS rn
    FROM resid r CROSS JOIN bc b)
  WHERE rn = 1
), recon_flat AS (
  -- flattened residual reconstruction (the aggregate must live OUTSIDE
  -- any list lambda: duckdb segfaults on flatten(list(...)) inside a
  -- list_transform)
  SELECT e.vec_id, flatten(list(b.bv ORDER BY e.subspace)) AS fr
  FROM enc e JOIN bc b USING (subspace, code)
  GROUP BY e.vec_id
), recon AS (
  -- ADC identity: <q,centroid> + sum_j <q_subj, book[j,code_j]>
  --             = <q, centroid + flattened residual reconstruction>
  SELECT rf.vec_id,
         list_transform(range(1, 65), i -> r.cv[i] + rf.fr[i]) AS rec
  FROM recon_flat rf JOIN resid r ON r.vec_id = rf.vec_id
), q AS (
  SELECT vec_id, v AS qv FROM v WHERE vec_id < 8
), adc AS (
  SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         list_inner_product(q.qv, r.rec) AS s
  FROM q CROSS JOIN recon r
  WHERE q.vec_id != r.vec_id
), shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY s DESC, neighbor_id ASC) AS rn
    FROM adc)
  WHERE rn <= 50
)
SELECT * FROM (
  SELECT s.query_id, s.neighbor_id,
         ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
                                      ne.embedding::DOUBLE[]), 6) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY ROUND(list_cosine_similarity(qe.embedding::DOUBLE[],
                          ne.embedding::DOUBLE[]), 6) DESC,
                    s.neighbor_id ASC) AS INT) AS rank
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
) WHERE rank <= 5
""")


@query("ann_ivfpq", _ANN_IVFPQ_SQL)
def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ (coarse inverted lists + residual product quantization —
    the standard billion-scale ANN layout) through the PERSISTED index.
    Fully value-checked INCLUDING the approximate math: the trained
    centroids + residual codebooks are exported as parquet cells and
    the DuckDB oracle reproduces cell assignment, residual encode, the
    ADC LUT-sum (= inner product with centroid + reconstruction), the
    top-50 shortlist, and the exact-cosine rerank. Full probe
    (nprobe = n_centroids) keeps probe selection out of the float-tie
    domain; the partial-probe (nprobe=4) recall is pinned in
    tests/test_pipeline.py."""
    idx, n = _ivfpq_index(spark, sf_dir)
    df = _t(spark, sf_dir, "embeddings")
    queries_df = df.filter(F.col("vec_id") < 8)
    out = idx.search(df, queries_df, k=5, nprobe=16, rerank=50,
                     dtype="float64")
    return out.withColumn("rank", F.col("rank").cast("int"))


@query("image_stats", """
WITH pos AS (SELECT unnest(range(256)) AS p),
px AS (
  SELECT d.doc_id, pos.p,
         ord(substr(d.text,
             CAST((3 * pos.p + 0) % LENGTH(d.text) AS INT) + 1, 1)) AS r,
         ord(substr(d.text,
             CAST((3 * pos.p + 1) % LENGTH(d.text) AS INT) + 1, 1)) AS g,
         ord(substr(d.text,
             CAST((3 * pos.p + 2) % LENGTH(d.text) AS INT) + 1, 1)) AS b
  FROM documents d, pos
)
SELECT doc_id AS media_id, 16 AS width, 16 AS height,
       ROUND(AVG(r), 6) AS mean_r,
       ROUND(AVG(g), 6) AS mean_g,
       ROUND(AVG(b), 6) AS mean_b,
       ROUND((AVG(r) + AVG(g) + AVG(b)) / 3.0, 6) AS brightness
FROM px GROUP BY doc_id
""")
def q_image_stats(spark, sf_dir):
    """REAL image decode, oracle-checked: text payloads become actual
    24-bit BMP blobs (numpy encoder), image_stats DECODES them with the
    numpy BMP reader and aggregates channel means — while DuckDB
    reproduces the same numbers from the byte-tiling definition without
    ever seeing a BMP. Proves the whole binary-media path (encode ->
    binary column -> Arrow batch -> decode -> features) end-to-end."""
    from .pipeline.multimodal import attach_bmp_media, image_stats
    df = _t(spark, sf_dir, "documents")
    media = attach_bmp_media(df, "doc_id", "text", width=16, height=16)
    out = image_stats(media)
    return out.select("media_id", "width", "height",
                      F.round("mean_r", 6).alias("mean_r"),
                      F.round("mean_g", 6).alias("mean_g"),
                      F.round("mean_b", 6).alias("mean_b"),
                      F.round("brightness", 6).alias("brightness"))


@query("weighted_sample", """
WITH t AS (
  SELECT doc_id, source,
         POW(('0x' || substr(md5(doc_id::VARCHAR || '#'), 1, 8))::BIGINT
               / 4294967296.0,
             1.0 / len(string_split(text, ' '))) AS pri
  FROM documents
), r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY pri DESC, doc_id) AS rn
  FROM t
)
SELECT doc_id, source FROM r WHERE rn <= 20
""")
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis priorities over stable hashes): 20 docs per
    source with inclusion odds proportional to token count."""
    from .pipeline.sample import weighted_sample
    from .pipeline.text import token_count
    df = (_t(spark, sf_dir, "documents")
          .withColumn("n_tok", token_count("text")))
    out = weighted_sample(df, "doc_id", "n_tok", 20, by="source")
    return out.select("doc_id", "source")


@query("top_ngram_fraction", """
WITH g AS (
  SELECT doc_id,
         len(string_split(text, ' ')) - 1 AS m,
         unnest(range(1, len(string_split(text, ' ')))) AS i,
         string_split(text, ' ') AS toks
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
), grams AS (
  SELECT doc_id, m, array_to_string(toks[i:i+1], ' ') AS gram FROM g
), counts AS (
  SELECT doc_id, m, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, m, gram
)
SELECT doc_id, ROUND(MAX(c) * 1.0 / m, 6) AS top2_frac
FROM counts GROUP BY doc_id, m
""")
def q_top_ngram_fraction(spark, sf_dir):
    """Gopher-style repetition: fraction of 2-gram occurrences claimed
    by the most frequent 2-gram — longest-run fold over the sorted gram
    array, zero shuffle (DuckDB oracle counts grams the explicit way)."""
    from .pipeline.text import top_ngram_fraction
    df = _t(spark, sf_dir, "documents")
    return df.select("doc_id",
                     F.round(top_ngram_fraction("text", 2), 6)
                     .alias("top2_frac"))


@query("anomaly_zscore", """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         AVG(value) OVER prev AS m,
         STDDEV_SAMP(value) OVER prev AS s,
         COUNT(value) OVER prev AS np
  FROM events
  WINDOW prev AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id,
       ROUND(CASE WHEN np >= 5 AND s > 0 THEN (value - m) / s END, 6)
         AS zscore,
       COALESCE(CASE WHEN np >= 5 AND s > 0
                     THEN ABS((value - m) / s) > 3.0 END, FALSE)
         AS is_anomaly
FROM w
""")
def q_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly flags over the event stream — trailing
    window excludes the current row so spikes can't mask themselves;
    one keyed sort exchange."""
    from .operators.timeseries import rolling_zscore
    df = _t(spark, sf_dir, "events")
    out = rolling_zscore(df, "ts", "user_id", "value", lookback=20,
                         min_points=5, threshold=3.0,
                         tiebreak_col="event_id")
    # NULL booleans render as None/NaN differently across engines —
    # "insufficient history" maps to not-flagged on both sides
    return out.select("event_id", F.round("zscore", 6).alias("zscore"),
                      F.coalesce("is_anomaly", F.lit(False))
                      .alias("is_anomaly"))


@query("retrieval_ndcg", """
WITH q AS (SELECT vec_id, embedding, label FROM embeddings
           WHERE vec_id < 8),
res AS (
  SELECT * FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           q.label AS qlab, c.label AS clab,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(q.embedding::DOUBLE[],
                            c.embedding::DOUBLE[]), 6) DESC, c.vec_id ASC)
             AS INT) AS rank
    FROM embeddings c CROSS JOIN q
    WHERE q.vec_id != c.vec_id
  ) WHERE rank <= 5
), gains AS (
  SELECT query_id, rank,
         CASE WHEN qlab = clab THEN 1.0 ELSE 0.0 END AS g
  FROM res
), per_q AS (
  SELECT query_id,
         SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS hits,
         SUM(g / log2(rank + 1.0)) AS dcg,
         MIN(CASE WHEN g > 0 THEN rank END) AS first_rel
  FROM gains GROUP BY query_id
), totals AS (
  SELECT q.vec_id AS query_id, COUNT(*) AS R
  FROM q JOIN embeddings c
    ON q.label = c.label AND q.vec_id != c.vec_id
  GROUP BY q.vec_id
), ideal AS (
  SELECT query_id, SUM(1.0 / log2(i + 1.0)) AS idcg
  FROM (SELECT query_id,
               unnest(range(1, CAST(LEAST(R, 5) AS INT) + 1)) AS i
        FROM totals)
  GROUP BY query_id
)
SELECT p.query_id,
       ROUND(hits * 1.0 / t.R, 6) AS recall,
       ROUND(COALESCE(1.0 / first_rel, 0.0), 6) AS mrr,
       ROUND(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 6) AS ndcg
FROM per_q p JOIN totals t USING (query_id)
             JOIN ideal USING (query_id)
""")
def q_retrieval_ndcg(spark, sf_dir):
    """Retrieval evaluation at scale: exact top-5 results scored against
    label-match relevance — recall@5 / MRR@5 / nDCG@5 per query, the
    metrics an embedding-search pipeline reports."""
    from .ml.evaluation import retrieval_metrics
    from .pipeline.similarity import brute_force_topk
    df = _t(spark, sf_dir, "embeddings")
    qs = df.filter(F.col("vec_id") < 8)
    res = brute_force_topk(df, qs, k=5)
    rel = (qs.select(F.col("vec_id").alias("query_id"),
                     F.col("label").alias("_ql"))
           .join(df.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("label").alias("_cl")),
                 F.col("_ql") == F.col("_cl"))
           .filter(F.col("query_id") != F.col("neighbor_id"))
           .select("query_id", "neighbor_id", F.lit(1.0).alias("rel")))
    out = retrieval_metrics(res, rel, k=5)
    return out.select("query_id", F.round("recall", 6).alias("recall"),
                      F.round("mrr", 6).alias("mrr"),
                      F.round("ndcg", 6).alias("ndcg"))


@query("kfold_counts", """
WITH f AS (
  SELECT doc_id, source,
         CAST(LEAST(FLOOR(
           ('0x' || substr(md5(doc_id::VARCHAR || '#fold'), 1, 8))::BIGINT
           / 4294967296.0 * 5), 4) AS INT) AS fold
  FROM documents
)
SELECT fold, source, COUNT(*) AS n FROM f GROUP BY fold, source
""")
def q_kfold_counts(spark, sf_dir):
    """Deterministic k-fold assignment (stable under reruns/growth) —
    fold sizes per source."""
    from .pipeline.sample import kfold_assign
    df = _t(spark, sf_dir, "documents")
    out = kfold_assign(df, "doc_id", k=5)
    return (out.groupBy("fold", "source")
            .agg(F.count(F.lit(1)).alias("n")))


@query("quantile_normalize", """
WITH g AS (
  SELECT source, len(string_split(text, ' ')) AS v, COUNT(*) AS c
  FROM documents GROUP BY source, v
), t AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
SELECT g.source, CAST(g.v AS INT) AS n_tok,
       ROUND(SUM(c) OVER (PARTITION BY g.source ORDER BY g.v)
             * 1.0 / t.n, 6) AS qnorm
FROM g JOIN t ON g.source = t.source
""")
def q_quantile_normalize(spark, sf_dir):
    """Per-source quantile normalization (empirical CDF of token count)
    — makes quality scores comparable across sources before a shared
    mixing threshold; distinct-value pre-agg + grouped ranged_cumsum,
    never a whole-group single-task window."""
    from .operators.agg import quantile_normalize_plan
    from .pipeline.text import token_count
    df = (_t(spark, sf_dir, "documents")
          .withColumn("n_tok", token_count("text")))
    out = quantile_normalize_plan(df, "n_tok", "source")
    return out.select("source", F.col("n_tok").cast("int").alias("n_tok"),
                      F.round("qnorm", 6).alias("qnorm"))


# ---------------------------------------------------------------------------
# Round 4: passage dedup, contamination report, SemDeDup, Gopher gates,
# deterministic global shuffle
# ---------------------------------------------------------------------------

@query("passage_dedup", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
  SELECT doc_id, CAST(u.i AS INT) AS idx,
         array_to_string(list_slice(t, u.i*8+1, (u.i+1)*8), ' ') AS passage
  FROM toks, UNNEST(range(CAST(CEIL(len(t)/8.0) AS BIGINT))) AS u(i)
),
k AS (SELECT *, row_number() OVER (PARTITION BY md5(passage)
                                   ORDER BY doc_id, idx) AS rn FROM p)
SELECT doc_id, COUNT(*) AS n_passages,
       SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
       md5(COALESCE(string_agg(passage, ' ' ORDER BY idx)
                    FILTER (WHERE rn = 1), '')) AS clean_hash
FROM k GROUP BY doc_id
""")
def q_passage_dedup(spark, sf_dir):
    """Sub-document (passage-window) dedup: keep each passage's globally
    first occurrence, reassemble docs. CCNet-style paragraph dedup at
    fixed 8-token windows."""
    from .pipeline.dedup import passage_dedup
    df = _t(spark, sf_dir, "documents")
    out = passage_dedup(df, passage_tokens=8)
    return out.select("doc_id", "n_passages", "n_kept",
                      F.md5("clean_text").alias("clean_hash"))


@query("ngram_contamination", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT DISTINCT md5(array_to_string(list_slice(t, u.i+1, u.i+5), ' ')) AS g
  FROM toks, UNNEST(range(GREATEST(len(t)-5, 0)+1)) AS u(i)
  WHERE doc_id % 37 = 0
),
dg AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(list_slice(t, u.i+1, u.i+5), ' ')) AS g
  FROM toks, UNNEST(range(GREATEST(len(t)-5, 0)+1)) AS u(i)
)
SELECT doc_id, COUNT(*) AS n_grams,
       SUM(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END) AS n_matched,
       ROUND(SUM(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END)
             * 1.0 / COUNT(*), 6) AS contamination
FROM dg GROUP BY doc_id
""")
def q_ngram_contamination(spark, sf_dir):
    """Graded benchmark-overlap report: fraction of each doc's distinct
    5-gram shingles found in the (broadcast) benchmark shingle set —
    benchmark here is the deterministic doc_id % 37 == 0 slice."""
    from .pipeline.dedup import ngram_contamination
    df = _t(spark, sf_dir, "documents")
    bench = df.filter(F.col("doc_id") % 37 == 0)
    return ngram_contamination(df, bench, n=5)


@query("semdedup_drops", """
WITH cells AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + 2*(CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END)
       + 4*(CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END)
       + 8*(CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END)
       + 16*(CASE WHEN embedding[5] >= 0 THEN 1 ELSE 0 END)
       + 32*(CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END) AS cell
  FROM embeddings)
SELECT DISTINCT b.vec_id AS dropped
FROM cells a, cells b
WHERE a.cell = b.cell AND a.vec_id < b.vec_id
  AND ROUND(list_cosine_similarity(a.e, b.e), 6) >= 0.4
""")
def q_semdedup_drops(spark, sf_dir):
    """SemDeDup drop set: cluster-then-prune semantic dedup — sign-cell
    bucketing + intra-cell cosine >= 0.4, drop the higher id of each
    near-duplicate pair."""
    from .pipeline.similarity import semdedup_drops
    df = _t(spark, sf_dir, "embeddings")
    return semdedup_drops(df, threshold=0.4, sign_bits=6)


@query("gopher_quality", """
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks, text FROM documents
), r AS (
  SELECT source,
    (len(toks) BETWEEN 20 AND 100000) AS words_ok,
    (list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
       BETWEEN 2.0 AND 12.0) AS mwl_ok,
    (len(regexp_extract_all(text, '#|\\.\\.\\.')) * 1.0 / len(toks)
       <= 0.1) AS symbols_ok,
    (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
       / len(toks) >= 0.8) AS alpha_ok,
    (len(list_filter(toks, x -> list_contains(
        ['the','and','of','to','in','is','it','that',
         'a','an','for','on','with','as'], x))) >= 2) AS stop_ok
  FROM t
)
SELECT source, COUNT(*) AS n_docs,
       SUM(CASE WHEN words_ok THEN 1 ELSE 0 END) AS n_words_ok,
       SUM(CASE WHEN mwl_ok THEN 1 ELSE 0 END) AS n_mwl_ok,
       SUM(CASE WHEN stop_ok THEN 1 ELSE 0 END) AS n_stop_ok,
       SUM(CASE WHEN words_ok AND mwl_ok AND symbols_ok
                 AND alpha_ok AND stop_ok THEN 1 ELSE 0 END) AS n_pass
FROM r GROUP BY source
""")
def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality gate pass rates per source — all five rules
    as native projections, one grouped agg."""
    from .pipeline.text import gopher_rules
    df = _t(spark, sf_dir, "documents")
    r = gopher_rules("text")
    return (df.select(
        "source", r["words_ok"].alias("words_ok"),
        r["mwl_ok"].alias("mwl_ok"), r["stop_ok"].alias("stop_ok"),
        r["pass"].alias("ok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(F.col("words_ok").cast("bigint")).alias("n_words_ok"),
             F.sum(F.col("mwl_ok").cast("bigint")).alias("n_mwl_ok"),
             F.sum(F.col("stop_ok").cast("bigint")).alias("n_stop_ok"),
             F.sum(F.col("ok").cast("bigint")).alias("n_pass")))


@query("shuffle_order", """
SELECT doc_id FROM documents
ORDER BY md5(doc_id::VARCHAR || '#epoch0'), doc_id LIMIT 20
""")
def q_shuffle_order(spark, sf_dir):
    """Deterministic global training shuffle — first 20 ids of the
    epoch-0 permutation (range-partitioned distributed sort; LIMIT
    compiles to TakeOrderedAndProject)."""
    from .pipeline.sample import deterministic_shuffle
    df = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(df, "doc_id", salt="epoch0") \
        .select("doc_id").limit(20)


# MinHash signature table (id, sig: array<bigint>) — the dominant shared
# cost of the whole LSH family (pairs/groups/star-edges/components/
# keep-best/leakage-split all rebuild the same md5-per-token signatures
# of the same corpus). Sign once, content-addressed exactly like the ANN
# indexes and the span/DSIR tables; every consumer passes sigs= and pays
# a parquet read. num_hashes is value-changing, so it is part of the
# fingerprint (``x md5`` names the token hash, kept so existing caches
# still hit); DuckDB oracles recompute signatures from raw text, so a
# stale cache fails the value gate loudly, cold AND warm.
_SIG_TABLE_META: dict = {}


def _sig_table(spark, sf_dir, num_hashes=16):
    from .pipeline.index_cache import IndexCache
    key = (id(spark), sf_dir, num_hashes)
    got = _SIG_TABLE_META.get(key)
    if got is None:
        from .pipeline.dedup import minhash_signature_arrays
        df = _t(spark, sf_dir, "documents")
        rows = df.count()
        cache = IndexCache("hsq_minhash_idx")
        fp = (f"{_dataset_fingerprint(sf_dir, 'documents')}"
              f"-{num_hashes}xmd5")
        path = f"{cache.dir_for(rows, fp)}/sigs.parquet"
        if not cache.is_committed(rows, fp):
            (minhash_signature_arrays(df, num_hashes=num_hashes)
             .write.mode("overwrite").parquet(path))
            cache.commit(rows, fp)
        else:
            cache.point_current(rows, fp)
        cache.prune_siblings(rows, fp)
        got = spark.read.parquet(path)
        _SIG_TABLE_META[key] = got
    return got


# DSIR raw-corpus feature table (id, bucket, count) — target-independent,
# so cached content-addressed exactly like the ANN indexes and the
# ExactSubstr span table (fp-in-path, marker-last, _CURRENT pointer).
_DSIR_FEATS_META: dict = {}


def _dsir_feats(spark, sf_dir, n=2, buckets=8192):
    from .pipeline.index_cache import IndexCache
    key = (id(spark), sf_dir, n, buckets)
    got = _DSIR_FEATS_META.get(key)
    if got is None:
        from .pipeline.sample import dsir_doc_buckets
        df = _t(spark, sf_dir, "documents")
        rows = df.count()
        cache = IndexCache("hsq_dsir_feats")
        fp = f"{_dataset_fingerprint(sf_dir, 'documents')}-{n}x{buckets}"
        path = f"{cache.dir_for(rows, fp)}/feats.parquet"
        if not cache.is_committed(rows, fp):
            (dsir_doc_buckets(df, n=n, buckets=buckets)
             .write.mode("overwrite").parquet(path))
            cache.commit(rows, fp)
        else:
            cache.point_current(rows, fp)
        cache.prune_siblings(rows, fp)
        got = spark.read.parquet(path)
        _DSIR_FEATS_META[key] = got
    return got


@query("dsir_weights", """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id,
         ('0x' || substr(md5(array_to_string(
              list_slice(t, u.i, u.i+1), ' ')), 1, 8))::BIGINT % 8192 AS b
  FROM toks, UNNEST(range(1, GREATEST(len(t)-1, 0)+1)) AS u(i)
),
ph AS (SELECT b, COUNT(*) AS pc FROM g WHERE doc_id % 37 = 0 GROUP BY b),
qh AS (SELECT b, COUNT(*) AS qc FROM g GROUP BY b),
tot AS (SELECT (SELECT COUNT(*) FROM g WHERE doc_id % 37 = 0) AS pt,
               (SELECT COUNT(*) FROM g) AS qt),
r AS (
  SELECT COALESCE(ph.b, qh.b) AS b,
         CAST(FLOOR((ln((COALESCE(pc, 0) + 0.5) / (pt + 0.5*8192))
                     - ln((COALESCE(qc, 0) + 0.5) / (qt + 0.5*8192)))
                    * 1000000 + 0.5) AS BIGINT) AS lru
  FROM ph FULL JOIN qh ON ph.b = qh.b, tot
)
SELECT doc_id, COUNT(*) AS n_feats,
       SUM(lru) / 1000000.0 AS log_weight
FROM g JOIN r ON g.b = r.b GROUP BY doc_id
""")
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: hashed-bigram likelihood ratio of each
    raw doc against the target slice (doc_id % 37 == 0) — micro-grid
    integer summation makes the score engine/partitioning-exact.

    The corpus gram projection (the dominant cost; SCALE.md round-9:
    the family is projection-bound) goes through the content-addressed
    feature-table cache — computed once per corpus snapshot, reused by
    every target mix. The target here is an id-slice of the corpus, so
    its feature table is a FILTER of the same cached table: the warm
    path pays zero tokenize/md5 work, and the DuckDB oracle still
    recomputes everything from raw text, value-checking the cache."""
    from .pipeline.sample import dsir_weights
    df = _t(spark, sf_dir, "documents")
    docb = _dsir_feats(spark, sf_dir, n=2, buckets=8192)
    return dsir_weights(
        df, None, n=2, buckets=8192, doc_buckets=docb,
        target_doc_buckets=docb.filter(F.col("doc_id") % 37 == 0))


@query("temperature_mix", """
WITH mass AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS mass
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(mass) AS t, SUM(POW(mass, 0.7)) AS ta FROM mass
)
SELECT source, mass,
       ROUND(mass / t, 6) AS p_natural,
       ROUND(POW(mass, 0.7) / ta, 6) AS p_mix,
       ROUND((POW(mass, 0.7) / ta) / (mass / t), 6) AS boost
FROM mass, tot
""")
def q_temperature_mix(spark, sf_dir):
    """Temperature-based source mixing (alpha=0.7): per-source natural
    vs mixed sampling probability and the oversampling boost."""
    from .pipeline.sample import temperature_mix_rates
    from .pipeline.text import token_count
    df = _t(spark, sf_dir, "documents")
    return temperature_mix_rates(df, "source", token_count("text"),
                                 alpha=0.7)


@query("drift_report", """
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS s, event_type AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), tt AS (SELECT s, SUM(cnt) AS tot FROM h GROUP BY s),
hp AS (SELECT h.s, bucket, cnt, cnt * 1.0 / tot AS p
       FROM h JOIN tt ON h.s = tt.s),
nxt AS (SELECT s AS slice_from, LEAD(s) OVER (ORDER BY s) AS slice_to
        FROM (SELECT DISTINCT s FROM h)),
a2 AS (SELECT slice_from, slice_to, bucket, p AS p_a, cnt AS c_a
       FROM nxt JOIN hp ON hp.s = nxt.slice_from
       WHERE slice_to IS NOT NULL),
b2 AS (SELECT slice_from, slice_to, bucket, p AS p_b, cnt AS c_b
       FROM nxt JOIN hp ON hp.s = nxt.slice_to
       WHERE slice_to IS NOT NULL),
j AS (
  SELECT COALESCE(a2.slice_from, b2.slice_from) AS slice_from,
         COALESCE(a2.slice_to, b2.slice_to) AS slice_to,
         COALESCE(p_a, 0) AS pa, COALESCE(p_b, 0) AS pb,
         COALESCE(c_a, 0) AS ca, COALESCE(c_b, 0) AS cb
  FROM a2 FULL JOIN b2
    ON a2.slice_from = b2.slice_from AND a2.slice_to = b2.slice_to
   AND a2.bucket = b2.bucket
)
SELECT slice_from, slice_to, SUM(ca) AS n_from, SUM(cb) AS n_to,
  CAST((SUM(CAST(FLOOR(
      ((CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2))
             ELSE 0 END
        + CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2))
               ELSE 0 END) / 2) * 1000000000 + 0.5) AS BIGINT))
        + 500) // 1000 AS BIGINT) / 1000000.0 AS js_divergence,
  CAST((SUM(CAST(FLOOR(
      (ABS(pa - pb) / 2) * 1000000000 + 0.5) AS BIGINT))
        + 500) // 1000 AS BIGINT) / 1000000.0 AS tv_distance
FROM j GROUP BY slice_from, slice_to
""")
def q_drift_report(spark, sf_dir):
    """Day-over-day drift of the event-type distribution: JS divergence
    + total variation per adjacent day pair, exact-integer summation."""
    from .pipeline.drift import drift_report
    df = _t(spark, sf_dir, "events")
    return drift_report(df, F.date_format("ts", "yyyy-MM-dd"),
                        "event_type")


@query("pretrain_funnel", """
WITH rules AS (
  SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
), gated AS (
  SELECT doc_id, text FROM rules
  WHERE (len(tk) BETWEEN 20 AND 100000)
    AND (list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk)
         BETWEEN 2.0 AND 12.0)
    AND (len(regexp_extract_all(text, '#|\\.\\.\\.')) * 1.0 / len(tk)
         <= 0.1)
    AND (len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
         / len(tk) >= 0.8)
    AND (len(list_filter(tk, x -> list_contains(
        ['the','and','of','to','in','is','it','that',
         'a','an','for','on','with','as'], x))) >= 2)
), exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS first
    FROM gated) WHERE doc_id = first
), toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM exact
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
), seeds AS (SELECT * FROM (VALUES (0, 2013305623), (1, 2458489887),
  (2, 4071548956), (3, 2327953159), (4, 987524060), (5, 556081905),
  (6, 2083177207), (7, 761518094), (8, 2793260896), (9, 1130439398),
  (10, 2309576590), (11, 3880396366), (12, 2003669775), (13, 507364299),
  (14, 2670572739), (15, 4255065888)) s(seed, c)
), sigs AS (
  SELECT doc_id, seed, MIN(xor(h, c)) AS mh
  FROM th CROSS JOIN seeds GROUP BY doc_id, seed
), arr AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM sigs GROUP BY doc_id
), banded AS (
  SELECT doc_id, b.band,
         CASE WHEN b.band = 0 THEN sig[1:8] ELSE sig[9:16] END AS bv
  FROM arr CROSS JOIN (SELECT unnest(range(2)) AS band) b
), bm AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY band, bv) AS bucket_min
  FROM banded
), groups AS (
  SELECT doc_id, MIN(bucket_min) AS cluster_id FROM bm GROUP BY doc_id
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM groups GROUP BY cluster_id
), neardup AS (
  SELECT e.doc_id, e.text FROM exact e
  JOIN keep k ON e.doc_id = k.doc_id
), bt AS (
  SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 37 = 0
), bgrams AS (
  SELECT DISTINCT md5(array_to_string(
      list_slice(t, u.i+1, u.i+13), ' ')) AS g
  FROM bt, UNNEST(range(GREATEST(len(t)-13, 0)+1)) AS u(i)
), nt AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM neardup
), hits AS (
  SELECT DISTINCT doc_id
  FROM nt, UNNEST(range(GREATEST(len(t)-13, 0)+1)) AS u(i)
  WHERE md5(array_to_string(list_slice(t, u.i+1, u.i+13), ' '))
        IN (SELECT g FROM bgrams)
), clean AS (
  SELECT doc_id FROM neardup
  WHERE doc_id NOT IN (SELECT doc_id FROM hits)
)
SELECT '1_raw' AS stage, COUNT(*) AS n_docs FROM documents
UNION ALL SELECT '2_quality', COUNT(*) FROM gated
UNION ALL SELECT '3_exact', COUNT(*) FROM exact
UNION ALL SELECT '4_neardup', COUNT(*) FROM neardup
UNION ALL SELECT '5_decontaminated', COUNT(*) FROM clean
""")
def q_pretrain_funnel(spark, sf_dir):
    """The composed end-to-end pretraining data funnel: quality gate ->
    exact dedup -> LSH near-dup dedup -> n-gram decontamination, with
    per-stage survivor counts. The LSH subtree consumes the shared
    content-addressed signature table (the same hsq_minhash_idx build
    the 7-query LSH family amortizes), semi-joined down to the
    exact-dedup survivors — see pipeline/__init__.py for the round-11
    A/B vs re-signing the filtered subset."""
    from .pipeline import pretrain_funnel
    df = _t(spark, sf_dir, "documents")
    return pretrain_funnel(df, bands=2,
                           sigs=_sig_table(spark, sf_dir))


@query("skew_report", """
WITH c AS (
  SELECT event_type::VARCHAR AS key, COUNT(*) AS cnt
  FROM events GROUP BY 1
), s AS (
  SELECT SUM(cnt) * 1.0 AS total, COUNT(*) * 1.0 AS nkeys FROM c
)
SELECT key, cnt, ROUND(cnt / total, 6) AS share,
       ROUND(cnt / (total / nkeys), 6) AS skew_factor
FROM c, s ORDER BY cnt DESC, key LIMIT 10
""")
def q_skew_report(spark, sf_dir):
    """Join/agg-key skew diagnostic: heaviest key values with share and
    skew factor — the report that decides whether to salt."""
    from .operators.skew import skew_report
    df = _t(spark, sf_dir, "events")
    return skew_report(df, "event_type", top=10)


@query("containment_counts", """
WITH ts AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
  FROM documents
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         (len(list_intersect(a.t, b.t)) = len(a.t)) AS a_in_b,
         (len(list_intersect(a.t, b.t)) = len(b.t)) AS b_in_a
  FROM ts a, ts b WHERE a.doc_id < b.doc_id
), c AS (
  SELECT id_a AS doc_id FROM pairs WHERE a_in_b
  UNION ALL
  SELECT id_b FROM pairs WHERE b_in_a
)
SELECT doc_id, COUNT(*) AS n_containers
FROM c GROUP BY doc_id
""")
def q_containment_counts(spark, sf_dir):
    """Asymmetric containment near-dups: for each document, the number
    of OTHER documents that fully contain its token set - the short-
    doc-inside-long-doc signal Jaccard misses. The pair list itself is
    quadratic in duplication density (2.2M pairs at sf0.1 on the
    tiny-vocab corpus), so the driver-facing query aggregates it."""
    from .pipeline.dedup import containment_pairs
    df = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(df, threshold=1.0)
    # one evaluation of the pair join (a union of two filters would run
    # the O(n^2) bitmask join twice): emit the contained id(s) of each
    # pair as a 0-2 element array and explode
    contained = pairs.select(F.explode(F.array(
        F.when(F.col("containment_a_in_b") == 1.0, F.col("id_a")),
        F.when(F.col("containment_b_in_a") == 1.0, F.col("id_b"))))
        .alias("doc_id")).filter(F.col("doc_id").isNotNull())
    return (contained.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_containers")))


@query("containment_counts_capped", """
WITH ts AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
  FROM documents
), inv AS (
  SELECT doc_id, unnest(t) AS tok FROM ts
), capped AS (
  -- sampled-postings audit: intersections counted among the 64
  -- smallest doc ids per token — deterministic, bounded at any scale
  SELECT doc_id, tok FROM inv
  QUALIFY ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) <= 64
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM capped a JOIN capped b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(t) AS n FROM ts),
pairs AS (
  SELECT id_a, id_b,
         ROUND(i * 1.0 / x.n, 6) AS a_in_b,
         ROUND(i * 1.0 / y.n, 6) AS b_in_a
  FROM inter
  JOIN sizes x ON x.doc_id = inter.id_a
  JOIN sizes y ON y.doc_id = inter.id_b
  WHERE GREATEST(i * 1.0 / x.n, i * 1.0 / y.n) >= 1.0
), c AS (
  SELECT id_a AS doc_id FROM pairs WHERE a_in_b = 1.0
  UNION ALL
  SELECT id_b FROM pairs WHERE b_in_a = 1.0
)
SELECT doc_id, COUNT(*) AS n_containers
FROM c GROUP BY doc_id
""")
def q_containment_counts_capped(spark, sf_dir):
    """Bounded-candidate containment audit: the inverted path with
    postings deterministically truncated to the 64 smallest doc ids per
    token — candidate volume <= C(64,2) per token at ANY corpus scale
    (exact containment over boilerplate cliques is definitionally
    quadratic; this is the loud-capped sampled form that stays
    oracle-checkable at sf10). Scores are exact for pairs whose ids
    both survive every shared posting, by construction of the cap."""
    from .pipeline.dedup import containment_pairs
    df = _t(spark, sf_dir, "documents")
    pairs = containment_pairs(df, threshold=1.0,
                              max_postings_per_token=64)
    contained = pairs.select(F.explode(F.array(
        F.when(F.col("containment_a_in_b") == 1.0, F.col("id_a")),
        F.when(F.col("containment_b_in_a") == 1.0, F.col("id_b"))))
        .alias("doc_id")).filter(F.col("doc_id").isNotNull())
    return (contained.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_containers")))


@query("variant_props_stats", """
SELECT event_type,
       ROUND(AVG(json_extract(props, '$.k')::INT), 6) AS avg_k,
       MAX(json_extract(props, '$.k')::INT) AS max_k,
       COUNT(json_extract(props, '$.k')) AS n_with_k
FROM events GROUP BY event_type
""")
def q_variant_props_stats(spark, sf_dir):
    """Semi-structured props via Spark 4 VariantType: parse the JSON
    column ONCE into a variant (binary columnar encoding - repeated
    path extraction is ~an order cheaper than per-path
    get_json_object re-parsing at scale) and aggregate typed gets."""
    df = _t(spark, sf_dir, "events")
    v = df.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"))
    return (v.groupBy("event_type")
            .agg(F.round(F.avg("k"), 6).alias("avg_k"),
                 F.max("k").alias("max_k"),
                 F.count("k").alias("n_with_k")))


# ExactSubstr span table: detection dominates the whole family (sf10:
# ~34s detect vs ~4s strip), and BOTH dup_spans and exact_substr_strip
# need the same (dataset, n, min_count) table — so the detected spans
# are cached content-addressed with the same fp-in-path protocol as the
# ANN indexes (pipeline/index_cache.py): immutable
# {root}/hsq_span_idx/n={rows}/fp={fingerprint}-{n}x{min_count}/ dirs,
# marker-last commit, per-n _CURRENT pointer, age-gated sibling GC.
# A real pipeline detects once and strips/audits many times; the cache
# makes the second family member pay only its own downstream work.
# Values are still fully oracle-checked: the DuckDB side recomputes the
# spans from raw text, so a stale/wrong cache would fail the gate loud.
_SPAN_TABLE_META: dict = {}


def _span_table(spark, sf_dir, n=16, min_count=2):
    from .pipeline.index_cache import IndexCache
    key = (id(spark), sf_dir, n, min_count)
    got = _SPAN_TABLE_META.get(key)
    if got is None:
        from .pipeline.dedup import duplicate_ngram_spans
        df = _t(spark, sf_dir, "documents")
        rows = df.count()
        cache = IndexCache("hsq_span_idx")
        # params that change VALUES are part of the fingerprint
        fp = f"{_dataset_fingerprint(sf_dir, 'documents')}-{n}x{min_count}"
        path = f"{cache.dir_for(rows, fp)}/spans.parquet"
        if not cache.is_committed(rows, fp):
            (duplicate_ngram_spans(df, n=n, min_count=min_count)
             .write.mode("overwrite").parquet(path))
            cache.commit(rows, fp)
        else:
            cache.point_current(rows, fp)
        cache.prune_siblings(rows, fp)
        got = spark.read.parquet(path)
        _SPAN_TABLE_META[key] = got
    return got


_DUP_SPANS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id,
         unnest(range(1, greatest(len(tk) - 15, 0) + 1)) AS pos, tk
  FROM t WHERE len(tk) >= 16
), gr AS (
  SELECT doc_id, pos, array_to_string(tk[pos:pos+15], ' ') AS gram FROM g
), c AS (
  SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS cnt FROM gr
), h AS (SELECT doc_id, pos FROM c WHERE cnt >= 2),
l AS (SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM h),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > 16
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM l
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 16 AS span_end,
         MAX(pos) + 16 - MIN(pos) AS span_tokens
  FROM isl GROUP BY doc_id, island
)
"""


@query("dup_spans", _DUP_SPANS_SQL + """
SELECT doc_id, span_start, span_end, span_tokens FROM spans
""")
def q_dup_spans(spark, sf_dir):
    """ExactSubstr duplicate-span detection (Lee et al. 2021): maximal
    token spans covered by corpus-duplicated 16-grams. The reference
    family builds a single-machine suffix array; here duplication is a
    window count over 128-bit gram hashes (one exchange) plus a
    gaps-and-islands merge per doc (one exchange). The DuckDB oracle
    groups the RAW gram string, so it also value-checks that the
    128-bit hash pair introduces no false duplicates — INCLUDING when
    the spans come from the content-addressed cache (_span_table)."""
    return _span_table(spark, sf_dir, n=16, min_count=2)


@query("exact_substr_strip", _DUP_SPANS_SQL + """,
sp AS (
  SELECT doc_id,
         list(struct_pack(s := span_start, e := span_end)) AS spans
  FROM spans GROUP BY doc_id
),
j AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS tk,
         COALESCE(sp.spans, []) AS spans
  FROM documents d LEFT JOIN sp ON d.doc_id = sp.doc_id
),
k AS (
  SELECT doc_id, tk,
         list_filter(range(1, len(tk) + 1),
                     i -> len(list_filter(spans,
                              s -> i >= s.s AND i < s.e)) = 0) AS keep
  FROM j
)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(tk) - len(keep) AS n_removed,
       COALESCE(array_to_string(list_transform(keep, i -> tk[i]), ' '),
                '') AS clean_text
FROM k
""")
def q_exact_substr_strip(spark, sf_dir):
    """The apply step of ExactSubstr dedup: remove every duplicated
    16-gram span and reassemble the text. Span table (small) is
    grouped to per-doc arrays and left-joined back; the token filter
    is a native higher-order expression - no Python in the plan.
    Detection is NOT paid here: the spans come from the shared
    content-addressed span table (_span_table — detect once, strip
    and audit against the same table), so this query's cost is the
    strip itself plus one small parquet read."""
    from .pipeline.dedup import strip_duplicate_spans
    df = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(
        df, n=16, min_count=2,
        spans=_span_table(spark, sf_dir, n=16, min_count=2))


# ---------------------------------------------------------------------------
# Training-pipeline round 12: sequence packing + snapshot diffing
# ---------------------------------------------------------------------------

@query("dataset_diff", """
WITH ha AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(doc_id::VARCHAR || '#snapA'), 1, 8))::BIGINT
           / 4294967296.0 AS ua,
         ('0x' || substr(md5(doc_id::VARCHAR || '#snapB'), 1, 8))::BIGINT
           / 4294967296.0 AS ub,
         ('0x' || substr(md5(doc_id::VARCHAR || '#rev'), 1, 8))::BIGINT
           / 4294967296.0 AS um
  FROM documents
), a AS (
  SELECT doc_id, md5(text) AS fp FROM ha WHERE ua >= 0.05
), b AS (
  SELECT doc_id,
         md5(CASE WHEN um < 0.10 THEN text || ' [rev2]' ELSE text END)
           AS fp
  FROM ha WHERE ub >= 0.05
), d AS (
  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.fp <> b.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT status, COUNT(*) AS n_docs FROM d GROUP BY status ORDER BY status
""")
def q_dataset_diff(spark, sf_dir):
    """Corpus-refresh audit: diff snapshot B against snapshot A by
    content fingerprint — one co-partitioned full-outer join over two
    slim (key, md5) projections, then a <=4-row status rollup. The two
    snapshots are carved deterministically from `documents` (A drops
    ~5% of ids, B drops a different ~5% and revises ~10% of texts) so
    every status bucket is exercised."""
    from .pipeline.sample import hash_unit
    from .pipeline.snapshot import diff_summary, snapshot_diff
    docs = _t(spark, sf_dir, "documents")
    ua = hash_unit(F.col("doc_id"), "snapA")
    ub = hash_unit(F.col("doc_id"), "snapB")
    um = hash_unit(F.col("doc_id"), "rev")
    a = docs.filter(ua >= 0.05).select("doc_id", "text")
    b = (docs.filter(ub >= 0.05)
         .select("doc_id",
                 F.when(um < 0.10,
                        F.concat(F.col("text"), F.lit(" [rev2]")))
                 .otherwise(F.col("text")).alias("text")))
    return diff_summary(
        snapshot_diff(a, b, "doc_id", fingerprint_cols=["text"]))
