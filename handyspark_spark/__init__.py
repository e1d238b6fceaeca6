"""handyspark_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of dvgodoy/handyspark, re-expressed Spark-first
(DataFrame/SQL/Catalyst), plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Reference semantics: dvgodoy/handyspark — see SURVEY.md.

Importing the package checks the Spark version and installs
``DataFrame.toHandy``/``notHandy``; the public names resolve lazily
(PEP 562 ``__getattr__``), each importing its own submodule on first
access. ``toHandy`` imports ``core.frame`` on its first call. A process
that only needs one submodule — a Python UDF worker unpickling a closure
from ``pipeline.similarity``, say — so loads that submodule and its own
imports, never pandas or the rest of the package.
"""
import importlib
import sys

# Minimum Spark: 3.5 (F.unix_micros / F.replace in the .dt/.str
# accessors, applyInPandasWithState in streaming). Checked once here so
# an older runtime fails with one clear message instead of scattered
# AttributeErrors deep inside accessor calls.
MIN_SPARK = (3, 5)


def _check_spark_version():
    import pyspark
    ver = tuple(int(p) for p in pyspark.__version__.split(".")[:2])
    if ver < MIN_SPARK:
        raise ImportError(
            f"handyspark_spark requires pyspark >= "
            f"{'.'.join(map(str, MIN_SPARK))} "
            f"(found {pyspark.__version__}): the .dt/.str accessors use "
            f"unix_micros/replace and streaming uses "
            f"applyInPandasWithState, all added in 3.5")


_check_spark_version()

__version__ = "0.1.0"

_OWNER = {"Handy": "core.frame", "HandyFrame": "core.frame",
          "toHandy": "core.frame", "generate_schema": "core.schema",
          "Bucket": "operators.strata", "Quantile": "operators.strata"}
__all__ = ["Handy", "HandyFrame", "toHandy", "install", "generate_schema",
           "Bucket", "Quantile"]


def _lazy_names(pkg: str, owner: dict):
    """PEP 562 ``__getattr__`` and ``__dir__`` for package ``pkg``: each
    public name in ``owner`` (name -> submodule) is imported from its
    submodule on first access and then kept as a module global."""
    def __getattr__(name):
        mod = owner.get(name)
        if mod is None:
            raise AttributeError(f"module {pkg!r} has no attribute {name!r}")
        value = getattr(importlib.import_module(f".{mod}", pkg), name)
        setattr(sys.modules[pkg], name, value)
        return value

    def __dir__():
        return sorted(set(vars(sys.modules[pkg])) | set(owner))
    return __getattr__, __dir__


__getattr__, __dir__ = _lazy_names(__name__, _OWNER)


def install() -> None:
    """Monkey-patch ``DataFrame.toHandy``/``notHandy`` like the reference
    (dataframe.py:25-34); ``core.frame`` is imported on the first
    ``toHandy`` call, not here."""
    from pyspark.sql import DataFrame

    def _toHandy(self):
        from .core.frame import HandyFrame
        return HandyFrame(self)

    def _notHandy(self):
        return self

    classes = [DataFrame]
    try:  # classic concrete class on PySpark 4.x
        from pyspark.sql.classic.dataframe import DataFrame as CDataFrame
        classes.append(CDataFrame)
    except ImportError:
        pass
    for cls in classes:
        cls.toHandy = _toHandy
        cls.notHandy = _notHandy


install()
