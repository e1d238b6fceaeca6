"""Physical-plan budgets (BASELINE.md): exchange counts per operator
class, mirroring the reference's `stages` tests
(tests/handyspark/sql/test_dataframe.py:70-74), plus plan-shape
assertions (pushdown, broadcast) the 100 TB design depends on."""
import pytest
from pyspark.sql import functions as F

from handyspark_spark import toHandy
from handyspark_spark.core.util import exchange_count, explain_str
from handyspark_spark.operators import agg as A


def test_stages_mirror_reference_counts(tables):
    hdf = toHandy(tables["lineitem"])
    assert hdf.stages == 1                                    # plain scan
    g = toHandy(tables["lineitem"].groupBy("l_returnflag")
                .agg(F.mean("l_extendedprice")))
    assert g.stages == 2                                      # one shuffle
    r = toHandy(tables["lineitem"].repartition(2)
                .groupBy("l_returnflag").agg(F.mean("l_extendedprice")))
    assert r.stages == 3                                      # repart + agg


def test_global_agg_single_exchange(tables):
    df = A.summary_plan(tables["lineitem"],
                        [F.mean("l_extendedprice").alias("m"),
                         F.stddev("l_quantity").alias("s")])
    assert exchange_count(df) <= 1


def test_stratified_agg_single_exchange(tables):
    """BASELINE.md: stratified @agg ops <= 1 exchange TOTAL (one grouped
    job, not per-stratum jobs)."""
    df = A.summary_plan(tables["lineitem"],
                        [F.mean("l_extendedprice").alias("m")],
                        ["l_returnflag", "l_linestatus"])
    assert exchange_count(df) <= 1


def test_value_counts_budget(tables):
    df = A.value_counts_plan(tables["lineitem"], ["l_returnflag"])
    assert exchange_count(df) <= 2


def test_mode_budget(tables):
    df = A.mode_plan(tables["lineitem"], "l_returnflag")
    assert exchange_count(df) <= 2


def test_fill_is_map_only_after_fit(tables):
    """The apply phase of fill/fence must add ZERO exchanges — fitted
    values are compiled into the projection."""
    hdf = toHandy(tables["lineitem"].withColumn(
        "d", F.when(F.col("l_discount") == 0.0, None)
             .otherwise(F.col("l_discount"))))
    filled = hdf.fill(continuous=["d"], strategy="mean")
    assert exchange_count(filled._df) == 0


def test_projection_pushdown_reaches_scan(tables, spark):
    """Column pruning: a 2-column projection must not read all 11 cols."""
    import os
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    df = spark.read.parquet(f"{sf}/lineitem.parquet") \
        .select("l_returnflag", "l_quantity") \
        .filter(F.col("l_quantity") > 10)
    plan = explain_str(df)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema
    assert "PushedFilters" in plan and "GreaterThan(l_quantity" in plan


def test_mutual_info_shuffle_budget(tables):
    """Marginals derived from the joint counts via windows — one real
    shuffle (the joint groupBy) + the tiny window repartition; never the
    reference's 3 separately-shuffled marginal tables + joins."""
    df = A.mutual_info_plan(tables["lineitem"], "l_returnflag",
                            "l_linestatus")
    assert exchange_count(df) <= 2
    plan = explain_str(df, "simple")
    assert "Join" not in plan


def test_agg_has_map_side_partials_and_codegen(tables):
    df = A.summary_plan(tables["lineitem"],
                        [F.mean("l_extendedprice").alias("m")])
    plan = explain_str(df, "simple")
    assert "partial_avg" in plan          # map-side combine before shuffle
    df.collect()                          # AQE finalizes plan on execution
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in executed             # whole-stage-codegen span markers


def test_exception_summary():
    from handyspark_spark.core.util import summarize_spark_error
    txt = ("long java stuff\n"
           "pyspark.errors.exceptions.captured.AnalysisException: "
           "[UNRESOLVED_COLUMN] bad col\n  at org.apache...")
    assert summarize_spark_error(txt).startswith(
        "pyspark.errors.exceptions.captured.AnalysisException")


def test_row_ids_and_loc(tables):
    hdf = toHandy(tables["orders"])._gen_row_ids("o_orderkey")
    got = hdf._loc(5, 9)._df.select("_row_id", "o_orderkey").collect()
    assert [r._row_id for r in got] == [5, 6, 7, 8, 9]
    keys = [r.o_orderkey for r in got]
    assert keys == sorted(keys)


def test_partitioned_write_prunes(tables, spark, tmp_path):
    from handyspark_spark.sources.sinks import write_partitioned
    path = str(tmp_path / "li_part")
    write_partitioned(tables["lineitem"], path, ["l_returnflag"])
    df = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    plan = explain_str(df)
    # partition filter present; only one partition dir scanned
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters")[1][:200]


def test_bucketed_join_has_no_exchange(tables, spark, tmp_path):
    """Co-located bucketed join: ZERO exchanges — the layout-level
    optimization the 100 TB design leans on."""
    from handyspark_spark.sources.sinks import write_bucketed
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(tables["lineitem"], "li_b", "l_orderkey", 8)
        write_bucketed(tables["orders"], "ord_b", "o_orderkey", 8)
        li, od = spark.table("li_b"), spark.table("ord_b")
        j = li.join(od, li.l_orderkey == od.o_orderkey) \
              .groupBy("l_returnflag") \
              .agg(F.sum("o_totalprice").alias("s"))
        n_exchanges = exchange_count(j.filter(F.col("s") > 0))
        # join itself shuffle-free; only the final 3-group agg may exchange
        plan = explain_str(j, "simple")
        assert "SortMergeJoin" in plan
        assert n_exchanges <= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_salted_agg_equals_plain(tables):
    from handyspark_spark.operators.skew import salted_agg
    plain = (tables["lineitem"].groupBy("l_returnflag")
             .agg(F.sum("l_extendedprice").alias("s"),
                  F.count(F.lit(1)).alias("c"))
             .toPandas().set_index("l_returnflag").sort_index())
    salted = (salted_agg(tables["lineitem"], ["l_returnflag"],
                         {"s": ("sum", "l_extendedprice"),
                          "c": ("count", None)})
              .toPandas().set_index("l_returnflag").sort_index())
    import numpy.testing as npt
    npt.assert_array_almost_equal(plain["s"], salted["s"], decimal=4)
    npt.assert_array_equal(plain["c"], salted["c"])


def test_salted_join_equals_plain(tables):
    from handyspark_spark.operators.skew import salted_join
    plain = (tables["lineitem"].join(
        tables["orders"],
        tables["lineitem"].l_orderkey == tables["orders"].o_orderkey)
        .count())
    salted = salted_join(tables["lineitem"], tables["orders"],
                         "l_orderkey", "o_orderkey").count()
    assert plain == salted


def test_salted_join_rejects_right_outer(tables):
    import pytest as _pytest
    from handyspark_spark.operators.skew import salted_join
    with _pytest.raises(ValueError):
        salted_join(tables["lineitem"], tables["orders"],
                    "l_orderkey", "o_orderkey", how="right")


def test_grouped_agg_keeps_sidecar(tables):
    from handyspark_spark import toHandy
    hdf = toHandy(tables["orders"])
    hdf.set_safety_limit(3)
    g = hdf.groupby("o_orderpriority").agg(F.count(F.lit(1)).alias("c"))
    assert g._handy.safety_limit == 3
    # the cap must actually bind (5 priorities exist, limit is 3)
    assert len(g.collect()) == 3


def test_upsert_updates_win(spark):
    from handyspark_spark.operators.upsert import upsert
    base = spark.createDataFrame(
        [(1, 1, "old"), (2, 1, "keep")], "k int, v int, s string")
    updates = spark.createDataFrame(
        [(1, 2, "new"), (1, 1, "newer"), (3, 1, "ins")],
        "k int, v int, s string")
    out = {r.k: r.s for r in
           upsert(base, updates, keys=["k"], order_by=["v"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_tpch_q5_dims_broadcast_facts_not(tables, spark):
    """Q5 plan contract with size-based broadcasting DISABLED (so only
    the explicit dim hints remain — the 100 TB posture where no fact fits
    a broadcast): region/nation still broadcast via hints, the fact
    joins fall back to shuffle joins, and no nested-loop join appears."""
    import os

    from handyspark_spark.queries import QUERIES
    sf_dir = os.environ.get("HS_TEST_SF", "/root/testdata/sf0.001")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(QUERIES["tpch_q5"](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "BroadcastHashJoin" in plan          # hinted dim chain
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan  # facts
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_new_queries_plan_shapes(tables, spark):
    """Q4: EXISTS compiles to ONE left-semi join (no distinct/aggregate
    dedup). Q18: the HAVING key set semi-joins orders BEFORE the customer
    join. Q19: the disjunctive arms prune the part side before the join
    and no nested-loop join appears anywhere."""
    import os

    from handyspark_spark.queries import QUERIES
    sf_dir = os.environ.get("HS_TEST_SF", "/root/testdata/sf0.001")

    q4 = explain_str(QUERIES["tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in q4
    assert "CartesianProduct" not in q4

    q18 = explain_str(QUERIES["tpch_q18"](spark, sf_dir))
    assert "LeftSemi" in q18

    q19 = explain_str(QUERIES["tpch_q19"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in q19
    assert "CartesianProduct" not in q19
    # the quantity envelope reaches the lineitem scan as a pushed filter
    import re
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", q19), \
        "quantity range not pushed to the lineitem scan"


# ---------------------------------------------------------------------------
# count-min sketch (operators/sketch.py)
# ---------------------------------------------------------------------------

def test_cms_never_underestimates_and_tightens(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import cms_build, cms_estimate
    df = tables["documents"].select(
        F.explode(F.split("text", " ")).alias("tok"))
    truth = {r["tok"]: r["n"] for r in
             df.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).collect()}
    items = df.select("tok").distinct()
    # tiny sketch: collisions guaranteed -> strictly one-sided error
    small = cms_build(df, "tok", width=64, depth=3)
    est_s = {r["tok"]: r["est"] for r in
             cms_estimate(items, "tok", small, 64, 3).collect()}
    assert all(est_s[t] >= truth[t] for t in truth)
    # wide sketch: few collisions -> estimates collapse to the truth
    wide = cms_build(df, "tok", width=16384, depth=4)
    est_w = {r["tok"]: r["est"] for r in
             cms_estimate(items, "tok", wide, 16384, 4).collect()}
    assert all(est_w[t] >= truth[t] for t in truth)
    exact_frac = sum(est_w[t] == truth[t] for t in truth) / len(truth)
    assert exact_frac > 0.9


def test_cms_merge_equals_single_build(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import cms_build, cms_merge
    df = tables["documents"].select(
        F.explode(F.split("text", " ")).alias("tok"),
        F.col("doc_id"))
    a = cms_build(df.filter("doc_id % 2 = 0"), "tok", 256, 3)
    b = cms_build(df.filter("doc_id % 2 = 1"), "tok", 256, 3)
    merged = {(r["d"], r["w_idx"]): r["cnt"] for r in
              cms_merge(a, b).collect()}
    whole = {(r["d"], r["w_idx"]): r["cnt"] for r in
             cms_build(df, "tok", 256, 3).collect()}
    assert merged == whole


def test_cms_topk_finds_heavy_hitters(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import cms_topk
    df = tables["documents"].select(
        F.explode(F.split("text", " ")).alias("tok"))
    exact = [r["tok"] for r in
             df.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
             .orderBy(F.desc("n"), F.asc("tok")).limit(5).collect()]
    got = [r["tok"] for r in
           cms_topk(df, "tok", k=5, width=16384, depth=4,
                    candidate_fraction=0.1).collect()]
    assert set(got) == set(exact)


def test_native_sketch_states_merge_and_estimate(spark, tables):
    """HLL/KLL/theta sketch STATE: slice-built sketches merged equal (in
    estimate) the whole-data build, and estimates track exact values."""
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import (hll_merge_estimate,
                                                   hll_state, kll_state,
                                                   kll_merge_quantiles,
                                                   theta_overlap,
                                                   theta_state)
    ev = tables["events"]
    # HLL: distinct user_ids, built per event_type then merged
    slices = hll_state(ev, "user_id", by=["event_type"])
    merged = hll_merge_estimate(slices).collect()[0]["n_distinct"]
    exact = ev.agg(F.countDistinct("user_id")).first()[0]
    assert abs(merged - exact) / exact < 0.05
    # KLL: quantiles from per-type slices merged vs exact
    ks = kll_state(ev, "value", by=["event_type"])
    q = kll_merge_quantiles(ks, [0.5, 0.9]).collect()[0]
    exact_q = ev.approxQuantile("value", [0.5, 0.9], 0.0)
    rng = (ev.agg(F.max("value") - F.min("value")).first()[0])
    assert abs(q["q0_5"] - exact_q[0]) / rng < 0.05
    assert abs(q["q0_9"] - exact_q[1]) / rng < 0.05
    # theta: user overlap between two event types vs exact intersection
    a = ev.filter(F.col("event_type") == "view")
    b = ev.filter(F.col("event_type") == "click")
    rep = theta_overlap(theta_state(a, "user_id"),
                        theta_state(b, "user_id")).collect()[0]
    exact_and = (a.select("user_id").distinct()
                 .join(b.select("user_id").distinct(), "user_id")
                 .count())
    assert abs(rep["n_and"] - exact_and) / max(exact_and, 1) < 0.1
    only_a = (a.select("user_id").distinct()
              .join(b.select("user_id").distinct(), "user_id",
                    "left_anti").count())
    assert abs(rep["n_only_a"] - only_a) / max(only_a, 1) < 0.2


def test_round4_operator_exchange_budgets(tables):
    """Round-4 training-pipeline operators stay within their designed
    shuffle budgets (SCALE.md): passage dedup = 2 keyed exchanges
    (winner window + reassembly), contamination = broadcast join + one
    keyed exchange, semdedup = one cell-keyed self-join exchange pair,
    gopher gate = pure projection + one grouped agg, DSIR = histogram +
    per-doc exchanges with the ratio table broadcast."""
    from handyspark_spark.pipeline.dedup import (ngram_contamination,
                                                 passage_dedup)
    from handyspark_spark.pipeline.similarity import semdedup_pairs
    from handyspark_spark.pipeline.text import gopher_rules
    docs, emb = tables["documents"], tables["embeddings"]

    assert exchange_count(passage_dedup(docs)) <= 2

    bench = docs.filter(F.col("doc_id") % 37 == 0)
    cont = ngram_contamination(docs, bench, n=5)
    assert exchange_count(cont) <= 2
    assert "BroadcastHashJoin" in explain_str(cont)

    sd = semdedup_pairs(emb, threshold=0.4)
    # self-join on the cell key: at most one exchange per side
    assert exchange_count(sd) <= 2
    assert "CartesianProduct" not in explain_str(sd)

    r = gopher_rules("text")
    gated = docs.select(
        "source", r["pass"].alias("ok")).groupBy("source").agg(
        F.sum(F.col("ok").cast("bigint")).alias("n"))
    assert exchange_count(gated) <= 1
    assert "BatchEvalPython" not in explain_str(gated)


def _final_plan(df) -> str:
    """The executed plan's final (post-AQE) part, after one collect:
    a stage whose output another branch reuses prints as one
    ``ReusedExchange`` line, without its subtree."""
    df.collect()
    return (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])


def test_drift_report_histogram_bounded(tables):
    """drift_report: ONE corpus-sized groupBy; everything downstream
    operates on |slices| x |buckets| rows with the adjacency map and
    totals broadcast."""
    from handyspark_spark.pipeline.drift import (drift_report,
                                                 slice_histograms)
    day = F.date_format("ts", "yyyy-MM-dd")
    rep = drift_report(tables["events"], day, "event_type")
    s = explain_str(rep)
    assert "BatchEvalPython" not in s
    assert "CartesianProduct" not in s
    # the histogram's totals branch reuses the corpus groupBy's exchange,
    # so the corpus is scanned once
    hist = _final_plan(slice_histograms(tables["events"], day,
                                        "event_type"))
    assert hist.count("FileScan") == 1 and "ReusedExchange" in hist
    # every branch of the report reads the histogram, none the corpus
    assert "FileScan" not in _final_plan(rep)


def test_skew_report_shapes_and_values(tables, spark):
    from handyspark_spark.operators.skew import skew_report
    import pandas as pd
    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, ["k"])
    rep = skew_report(df, "k", top=3)
    # one corpus exchange + the tiny summary/top-k pair; the summary
    # branch reuses the corpus exchange, so the input is scanned once
    assert exchange_count(rep) <= 3
    s = _final_plan(rep)
    assert s.count("Scan ExistingRDD") == 1 and "ReusedExchange" in s
    out = rep.collect()
    assert out[0]["key"] == "hot" and out[0]["cnt"] == 90
    assert abs(out[0]["share"] - 0.9) < 1e-9
    # mean per key = 100/11 rows; hot = 90 -> factor 9.9
    assert abs(out[0]["skew_factor"] - 90 / (100 / 11)) < 1e-6
    assert len(out) == 3


def test_stratified_spearman_exchanges_constant_in_m(tables):
    """Stratified spearman ranks all M columns in ONE melted pass: the
    exchange count must not grow with M (the old keyed path paid a
    distinct-agg + join-back per column)."""
    df = tables["lineitem"]
    e2 = exchange_count(A.corr_plan(
        df, ["l_quantity", "l_extendedprice"],
        method="spearman", strata=["l_returnflag"]))
    e4 = exchange_count(A.corr_plan(
        df, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        method="spearman", strata=["l_returnflag"]))
    assert e4 == e2, (e2, e4)


def test_ivfpq_cell_partitioned_probe_prunes(tables, spark, tmp_path):
    """The 100-TB IVF layout claim, plan-verified: corpus written ONCE
    partitioned by coarse cell; a probe filtered to nprobe cells must
    partition-prune (read nprobe/n_centroids of the files), not scan."""
    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    df = tables["embeddings"]
    idx = IVFPQIndex.fit(df, n_centroids=8, m=8, nbits=4, sample_n=256)
    path = str(tmp_path / "emb_by_cell")
    # IVFIndex.assign shape: cell id projection, then partitioned write
    from handyspark_spark.pipeline.ann_index import IVFIndex
    IVFIndex(idx.centroids).assign(df, "_cell") \
        .write.partitionBy("_cell").parquet(path)
    probed = spark.read.parquet(path).filter(F.col("_cell").isin([0, 3]))
    plan = explain_str(probed)
    assert "PartitionFilters" in plan
    assert "_cell" in plan.split("PartitionFilters")[1][:200]
    # the pruned read returns exactly the probed cells' rows
    got = {r["_cell"] for r in probed.select("_cell").distinct().collect()}
    assert got <= {0, 3}


def test_base_table_plan_memo_per_session(tables, spark):
    """_t memoizes the LAZY base-table handle per (session, dir, table):
    repeated calls return the same plan object (no repeated schema
    inference inside timed queries), distinct keys stay distinct, the
    memo lives on the SparkSession (not a module global), and the
    memoized handle still computes from the parquet input."""
    import os

    from handyspark_spark import queries as Q
    sf_dir = os.environ.get("HS_TEST_SF", "/root/testdata/sf0.001")
    a = Q._t(spark, sf_dir, "nation")
    b = Q._t(spark, sf_dir, "nation")
    assert a is b                                # handle reuse
    assert Q._t(spark, sf_dir, "region") is not a  # distinct table key
    # per-session storage, no module-level state
    assert (sf_dir, "nation") in spark._hsq_table_plans
    assert not hasattr(Q, "_hsq_table_plans")
    # a different session object gets its own memo (plans from a stopped
    # session must never leak into a new one)
    class _FakeSession:
        pass
    other = _FakeSession()
    try:
        Q._t(other, sf_dir, "nation")
    except Exception:
        pass  # load may legitimately fail on the fake; the memo must not
    assert getattr(other, "_hsq_table_plans", {}) is not \
        spark._hsq_table_plans
    # the handle is a plan, not a result: it reads the parquet fixture
    fresh = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert sorted(r["n_name"] for r in a.collect()) == \
        sorted(r["n_name"] for r in fresh.collect())
