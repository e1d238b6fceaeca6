"""Package surface: the lazy public names, the ``toHandy`` install, a
guard that keeps driver-built frames off the pickled-RDD path, and the
rule that a call leaves no cached data behind for another call."""
from __future__ import annotations

import ast
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(HERE, "handyspark_spark")


def _fresh(code: str) -> str:
    """Run ``code`` in a fresh interpreter rooted at the repo; its
    stdout."""
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    return out.stdout.strip()


def test_similarity_import_loads_no_pandas():
    """What an Arrow-UDF worker of the ANN family imports when it
    unpickles a closure that references a ``similarity`` helper."""
    got = _fresh(
        "import sys\n"
        "import handyspark_spark.pipeline.similarity\n"
        "print(sorted(m for m in sys.modules if m == 'pandas'\n"
        "             or m.startswith('handyspark_spark')))\n")
    assert "pandas" not in got
    assert "handyspark_spark.core.frame" not in got
    assert "handyspark_spark.pipeline.dedup" not in got


def test_package_import_installs_to_handy():
    got = _fresh(
        "import sys\n"
        "import handyspark_spark\n"
        "from pyspark.sql import DataFrame\n"
        "print(callable(DataFrame.toHandy), callable(DataFrame.notHandy),\n"
        "      'handyspark_spark.core.frame' in sys.modules)\n")
    assert got == "True True False"


def test_to_handy_wraps_after_lazy_install(spark):
    import handyspark_spark
    from handyspark_spark.core.frame import HandyFrame
    df = spark.range(3)
    assert isinstance(df.toHandy(), HandyFrame)
    assert df.notHandy() is df
    assert isinstance(handyspark_spark.toHandy(df), HandyFrame)


@pytest.mark.parametrize("mod", ["handyspark_spark",
                                 "handyspark_spark.pipeline"])
def test_every_public_name_resolves(mod):
    import importlib
    m = importlib.import_module(mod)
    for name in m.__all__:
        assert getattr(m, name) is not None, name
    assert set(m.__all__) <= set(dir(m))
    with pytest.raises(AttributeError):
        getattr(m, "no_such_name")


def test_pretrain_funnel_importable_from_pipeline():
    from handyspark_spark.pipeline import pretrain_funnel
    from handyspark_spark.pipeline.funnel import pretrain_funnel as f
    assert pretrain_funnel is f


def _row_data(call: ast.Call):
    """The data argument of a ``createDataFrame`` call, if any."""
    if call.args:
        return call.args[0]
    return next((k.value for k in call.keywords if k.arg == "data"), None)


def _pickled_rows(node) -> bool:
    """Data that Spark would parallelize as a pickled Python RDD: a list
    or tuple literal, a comprehension, or a ``.collect()`` result."""
    if isinstance(node, (ast.List, ast.Tuple, ast.ListComp,
                         ast.GeneratorExp, ast.SetComp)):
        return True
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "collect")


def _library_calls(attrs: set[str]):
    """``path:line`` of every library call of a method named in
    ``attrs``, with the call node."""
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in attrs):
                    yield f"{os.path.relpath(path, HERE)}:{node.lineno}", node


def test_no_create_data_frame_from_python_rows():
    """Every library frame built from driver-side data enters Spark as an
    Arrow table (a local relation): a ``createDataFrame`` over Python
    rows starts a pickled ``parallelize`` RDD and a Python worker pool."""
    bad = [where for where, node in _library_calls({"createDataFrame"})
           if _pickled_rows(_row_data(node))]
    assert not bad, f"createDataFrame over Python rows: {bad}"


def test_library_never_persists():
    """No library call persists or caches a frame: a CacheManager entry
    outlives its call, and a later call with the same plan would read
    it. An intermediate is shared within its call by exchange reuse or
    a lazy ``localCheckpoint``, which no other plan can match."""
    bad = [where for where, _ in _library_calls({"persist", "cache"})]
    assert not bad, f"persist/cache in the library: {bad}"


#: registry queries whose plans share an intermediate within the call
CHANGED_SITE_QUERIES = [
    "tfidf_vectors", "bm25_topk", "unigram_logprob", "jaccard_pairs_capped",
    "containment_counts_capped", "simhash_pairs", "simhash_pairs_capped",
    "dedup_components", "pretrain_funnel", "dsir_weights", "drift_report",
    "skew_report", "tpch_q15", "tpch_q21", "roc_curve", "pr_curve",
    "auc_roc", "confusion_matrix", "fmeasure_by_threshold", "ttest_welch"]


@pytest.mark.parametrize("name", CHANGED_SITE_QUERIES)
def test_registry_call_leaves_no_cache_entry(spark, name, tmp_path,
                                             monkeypatch):
    """A call leaves Spark's CacheManager as it found it, so the next
    call of the same query reads its own input again."""
    from conftest import SF_DIR
    sys.path.insert(0, HERE)
    import __spark_entry__ as E
    monkeypatch.setenv("HSQ_INDEX_CACHE_ROOT", str(tmp_path))
    spark.catalog.clearCache()
    E.queries()[name](spark, SF_DIR).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


#: registry queries that sign, detect, fit or encode their own inputs
OWN_INPUT_QUERIES = [
    "minhash_signatures", "minhash_lsh_pairs", "lsh_incremental_dedup",
    "minhash_lsh_groups", "lsh_star_edges_recovered", "dedup_components",
    "dedup_keep_best", "leakage_safe_split", "pretrain_funnel",
    "dsir_weights", "dup_spans", "exact_substr_strip", "ann_ivf_index",
    "ann_pq", "ann_pq_exact", "ann_ivfpq"]


def _call_jobs(spark, name, group):
    """Spark jobs that one registry call of ``name`` runs at sf0.001,
    from the query's construction to its collect."""
    from conftest import SF_DIR
    sys.path.insert(0, HERE)
    import __spark_entry__ as E
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        E.queries()[name](spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def fresh_cache_root(spark, tmp_path, monkeypatch):
    """A fresh ``HSQ_INDEX_CACHE_ROOT``, with the two tables of these
    queries loaded before (a table's first load in a session runs a
    job)."""
    from conftest import SF_DIR

    from handyspark_spark import queries as Q
    monkeypatch.setenv("HSQ_INDEX_CACHE_ROOT", str(tmp_path))
    for t in ("documents", "embeddings"):
        Q._t(spark, SF_DIR, t)


@pytest.mark.parametrize("name", OWN_INPUT_QUERIES)
def test_registry_call_computes_its_own_inputs(spark, name,
                                               fresh_cache_root):
    """A call reads nothing that an earlier call or process computed:
    on a fresh index-cache root its second call runs as many jobs as
    its first."""
    first = _call_jobs(spark, name, f"own-{name}-1")
    assert _call_jobs(spark, name, f"own-{name}-2") == first


def test_ann_pq_exact_jobs_independent_of_ann_pq(spark, fresh_cache_root):
    """ann_pq_exact runs the same jobs before and after ann_pq, which
    fits the same index."""
    before = _call_jobs(spark, "ann_pq_exact", "pq-exact-before")
    _call_jobs(spark, "ann_pq", "pq-between")
    assert _call_jobs(spark, "ann_pq_exact", "pq-exact-after") == before


def test_guard_flags_python_rows():
    calls = ["s.createDataFrame([(1,)], 'a int')",
             "s.createDataFrame([(i,) for i in x])",
             "s.createDataFrame(data=df.collect(), schema=t)",
             "s.createDataFrame(((1,),), 'a int')"]
    for src in calls:
        call = ast.parse(src).body[0].value
        assert _pickled_rows(_row_data(call)), src
    ok = ast.parse("s.createDataFrame(pa.table(c), 'a int')").body[0].value
    assert not _pickled_rows(_row_data(ok))
