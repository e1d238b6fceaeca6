"""Persistable ANN index artifacts: train once, probe many times.

``ivf_topk``/``pq_topk``/``ivfpq_topk`` fit their quantizer/codebooks
inline — right for exploration, wrong at 100 TB where the index is
trained once on a sample and reused by every query batch for months.
These classes wrap the same fit/search code behind a save/load
artifact, following the fitted-state pattern of ``ml.base.HandyImputer``
(statsDict there; a parquet directory here, because centroid matrices
are numeric arrays, not JSON-sized dicts).

Artifact layout (one directory per index, any Hadoop-visible FS — every
file is written WITH Spark, so object stores work; no driver-local
I/O):

- ``<path>/meta.parquet``  — 1 row: kind + fit params as a JSON string
- ``<path>/cells.parquet`` — IVF, IVF-PQ: (cell, pos, val) centroids
                             PQ: (subspace, code, pos, val) codebooks
- ``<path>/books.parquet`` — IVF-PQ: (subspace, code, pos, val)
                             residual codebooks

Long-form (one row per vector component) keeps the schema fixed across
dim/m/nbits and trivially reassembles into the numpy matrices the
search kernels broadcast.

Both directions stay off the Python worker pool. ``save`` builds each
long-form table on the driver as a ``pyarrow.Table`` (``np.indices``
plus ``ravel``), which Spark takes as a local relation — no pickled
``parallelize`` RDD and no Python worker — and writes it as one file
through ``coalesce(1)``, without a shuffle. ``load`` reads each file with
``toArrow()`` and scatters the values into the matrix in one numpy
assignment.

Reference parity note: the reference (dvgodoy/handyspark) has no ANN at
all — this module is part of the beyond-reference training-data
pipeline surface; the save/load contract mirrors ml/base.py's
imputer/fencer round-trip.
"""
from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (_nearest_cell_udf, ivf_fit_centroids, ivf_topk,
                         ivfpq_encode, ivfpq_fit, ivfpq_topk, pq_codebooks,
                         pq_encode, pq_topk)

__all__ = ["IVFIndex", "PQIndex", "IVFPQIndex"]


def _write_meta(spark: SparkSession, path: str, kind: str, params: dict):
    tbl = pa.table({"kind": [kind], "params": [json.dumps(params)]})
    (spark.createDataFrame(tbl, "kind string, params string")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta.parquet"))


def _read_meta(spark: SparkSession, path: str, expect_kind: str) -> dict:
    row = spark.read.parquet(f"{path}/meta.parquet").collect()[0]
    if row["kind"] != expect_kind:
        raise ValueError(f"index at {path} is a {row['kind']!r} artifact, "
                         f"not {expect_kind!r}")
    return json.loads(row["params"])


# long-form axes of the two persisted matrices; the DuckDB ANN oracles
# read these parquet schemas directly
_CELLS = ("cell", "pos")                 # centroids (cell, pos, val)
_BOOKS = ("subspace", "code", "pos")     # codebooks (subspace, code, pos, val)


def _write_long(spark: SparkSession, path: str, M: np.ndarray, axes):
    """One (axes..., val) row per matrix entry, one parquet file."""
    ix = np.indices(M.shape, dtype=np.int32).reshape(M.ndim, -1)
    tbl = pa.table({**dict(zip(axes, ix)), "val": M.ravel()})
    schema = ", ".join(f"{a} int" for a in axes) + ", val double"
    (spark.createDataFrame(tbl, schema)
     .coalesce(1).write.mode("overwrite").parquet(path))


def _read_long(spark: SparkSession, path: str, shape, axes) -> np.ndarray:
    tbl = spark.read.parquet(path).toArrow()
    M = np.zeros(shape, dtype=np.float64)
    M[tuple(tbl[a].to_numpy() for a in axes)] = tbl["val"].to_numpy()
    return M


class IVFIndex:
    """Fitted IVF coarse quantizer: (n_centroids × dim) matrix + params.

    ``fit`` -> ``save`` once; ``load`` -> ``search`` per query batch —
    no refit. ``assign`` exposes the cell id projection so the corpus can
    be written out partitioned by cell (the layout that makes a probe
    read nprobe/n_centroids of the data instead of scanning)."""

    KIND = "ivf"

    def __init__(self, centroids: np.ndarray, vec_col: str = "embedding",
                 id_col: str = "vec_id", kmeans_iters: int = 0):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.vec_col = vec_col
        self.id_col = id_col
        self.kmeans_iters = kmeans_iters

    @classmethod
    def fit(cls, df: DataFrame, n_centroids: int = 16,
            vec_col: str = "embedding", id_col: str = "vec_id",
            kmeans_iters: int = 0) -> "IVFIndex":
        C = ivf_fit_centroids(df, n_centroids, vec_col, id_col,
                              kmeans_iters)
        return cls(C, vec_col, id_col, kmeans_iters)

    def save(self, path: str, spark: SparkSession | None = None):
        spark = spark or SparkSession.getActiveSession()
        _write_long(spark, f"{path}/cells.parquet", self.centroids, _CELLS)
        _write_meta(spark, path, self.KIND,
                    {"vec_col": self.vec_col, "id_col": self.id_col,
                     "kmeans_iters": self.kmeans_iters,
                     "n_centroids": int(self.centroids.shape[0]),
                     "dim": int(self.centroids.shape[1])})
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        p = _read_meta(spark, path, cls.KIND)
        C = _read_long(spark, f"{path}/cells.parquet",
                       (p["n_centroids"], p["dim"]), _CELLS)
        return cls(C, p["vec_col"], p["id_col"], p["kmeans_iters"])

    def assign(self, df: DataFrame, cell_col: str = "_cell") -> DataFrame:
        """Nearest-centroid cell id per row (one Arrow-batched BLAS
        matmul projection) — use to write the corpus partitioned by
        cell once, so probes prune at the file level."""
        b_C = df.sparkSession.sparkContext.broadcast(self.centroids)
        cell = _nearest_cell_udf(b_C, self.vec_col)
        return df.withColumn(
            cell_col, cell(F.col(self.vec_col).cast("array<double>")))

    def search(self, df: DataFrame, queries: DataFrame, k: int = 5,
               nprobe: int = 4) -> DataFrame:
        return ivf_topk(df, queries, k=k, nprobe=nprobe,
                        vec_col=self.vec_col, id_col=self.id_col,
                        centroids=self.centroids)


class PQIndex:
    """Trained PQ codebooks: (m × 2^nbits × dim/m) + params.

    ``fit`` -> ``save`` once; ``load`` -> ``encode`` the corpus (or new
    batches — codes stay comparable because the codebooks are frozen)
    and ``search`` per query batch."""

    KIND = "pq"

    def __init__(self, books: np.ndarray, vec_col: str = "embedding",
                 id_col: str = "vec_id"):
        self.books = np.asarray(books, dtype=np.float64)
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def fit(cls, df: DataFrame, m: int = 8, nbits: int = 4,
            sample_n: int = 2048, vec_col: str = "embedding",
            id_col: str = "vec_id", seed: int = 42) -> "PQIndex":
        books = pq_codebooks(df, vec_col, id_col, m=m, nbits=nbits,
                             sample_n=sample_n, seed=seed)
        return cls(books, vec_col, id_col)

    def save(self, path: str, spark: SparkSession | None = None):
        spark = spark or SparkSession.getActiveSession()
        _write_long(spark, f"{path}/cells.parquet", self.books, _BOOKS)
        m, k, dsub = self.books.shape
        _write_meta(spark, path, self.KIND,
                    {"vec_col": self.vec_col, "id_col": self.id_col,
                     "m": int(m), "k": int(k), "dsub": int(dsub)})
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PQIndex":
        p = _read_meta(spark, path, cls.KIND)
        B = _read_long(spark, f"{path}/cells.parquet",
                       (p["m"], p["k"], p["dsub"]), _BOOKS)
        return cls(B, p["vec_col"], p["id_col"])

    def encode(self, df: DataFrame, code_col: str = "pq_code") -> DataFrame:
        """Add the m-code column with the FROZEN codebooks — encode the
        corpus once, persist it, and every later
        ``search(..., encoded=...)`` scans codes instead of re-encoding
        raw vectors. New batches stay comparable because the codebooks
        are frozen."""
        return pq_encode(df, self.books, self.vec_col, self.id_col,
                         code_col)

    def search(self, df: DataFrame, queries: DataFrame, k: int = 5,
               rerank: int | None = None,
               encoded: DataFrame | None = None,
               dtype: str = "float32") -> DataFrame:
        return pq_topk(df, queries, k=k, vec_col=self.vec_col,
                       id_col=self.id_col, rerank=rerank,
                       books=self.books, encoded=encoded, dtype=dtype)


class IVFPQIndex:
    """Fitted IVF-PQ: coarse centroids + residual PQ codebooks.

    The billion-scale production artifact: ``fit`` -> ``save`` once
    (coarse quantizer + residual codebooks are together a few KB),
    ``load`` -> ``search`` per query batch. The corpus itself is encoded
    by the search projection; at scale write it out ONCE partitioned by
    cell (``IVFIndex.assign`` shape) so probes prune at the file level."""

    KIND = "ivfpq"

    def __init__(self, centroids: np.ndarray, books: np.ndarray,
                 vec_col: str = "embedding", id_col: str = "vec_id"):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.books = np.asarray(books, dtype=np.float64)
        self.vec_col = vec_col
        self.id_col = id_col

    @classmethod
    def fit(cls, df: DataFrame, n_centroids: int = 16, m: int = 8,
            nbits: int = 4, sample_n: int = 2048,
            vec_col: str = "embedding", id_col: str = "vec_id",
            seed: int = 42, kmeans_iters: int = 0) -> "IVFPQIndex":
        C, books = ivfpq_fit(df, n_centroids, m, nbits, sample_n,
                             vec_col=vec_col, id_col=id_col, seed=seed,
                             kmeans_iters=kmeans_iters)
        return cls(C, books, vec_col, id_col)

    def save(self, path: str, spark: SparkSession | None = None):
        spark = spark or SparkSession.getActiveSession()
        _write_long(spark, f"{path}/cells.parquet", self.centroids, _CELLS)
        _write_long(spark, f"{path}/books.parquet", self.books, _BOOKS)
        m, k, dsub = self.books.shape
        _write_meta(spark, path, self.KIND,
                    {"vec_col": self.vec_col, "id_col": self.id_col,
                     "n_centroids": int(self.centroids.shape[0]),
                     "dim": int(self.centroids.shape[1]),
                     "m": int(m), "k": int(k), "dsub": int(dsub)})
        return self

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFPQIndex":
        p = _read_meta(spark, path, cls.KIND)
        C = _read_long(spark, f"{path}/cells.parquet",
                       (p["n_centroids"], p["dim"]), _CELLS)
        B = _read_long(spark, f"{path}/books.parquet",
                       (p["m"], p["k"], p["dsub"]), _BOOKS)
        return cls(C, B, p["vec_col"], p["id_col"])

    def encode(self, df: DataFrame, cell_col: str = "cell",
               code_col: str = "pq_code") -> DataFrame:
        """Add (cell, residual code) columns with the FROZEN index —
        encode the corpus once, write it ``.partitionBy(cell_col)``,
        and every later ``search(..., encoded=...)`` scans codes
        instead of re-encoding raw vectors. New batches stay
        comparable because the codebooks are frozen."""
        return ivfpq_encode(df, self.centroids, self.books,
                            self.vec_col, self.id_col, cell_col, code_col)

    def search(self, df: DataFrame, queries: DataFrame, k: int = 5,
               nprobe: int = 4, rerank: int | None = None,
               encoded: DataFrame | None = None,
               dtype: str = "float32") -> DataFrame:
        return ivfpq_topk(df, queries, k=k, nprobe=nprobe,
                          vec_col=self.vec_col, id_col=self.id_col,
                          rerank=rerank, centroids=self.centroids,
                          books=self.books, encoded=encoded, dtype=dtype)
