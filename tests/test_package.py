"""Package surface: the lazy public names, the ``toHandy`` install, and a
guard that keeps driver-built frames off the pickled-RDD path."""
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


def test_no_create_data_frame_from_python_rows():
    """Every library frame built from driver-side data enters Spark as an
    Arrow table (a local relation): a ``createDataFrame`` over Python
    rows starts a pickled ``parallelize`` RDD and a Python worker pool."""
    bad = []
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
                        and node.func.attr == "createDataFrame"
                        and _pickled_rows(_row_data(node))):
                    bad.append(f"{os.path.relpath(path, HERE)}:"
                               f"{node.lineno}")
    assert not bad, f"createDataFrame over Python rows: {bad}"


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
