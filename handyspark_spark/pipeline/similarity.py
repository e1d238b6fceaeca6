"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk`` / ``ivf_topk``: exact cosine top-k over raw
  vectors. IVF-flat fits coarse centroids (sampled deterministically),
  and each query scores only rows whose nearest centroid is among its
  ``nprobe`` nearest; brute force is the same search over one cell.
- ``ivfpq_topk`` / ``pq_topk``: IVF-PQ — coarse cells plus
  product-quantized residual codes, scored by asymmetric distance
  (ADC); flat PQ is the same search over one all-zero cell.
- ``neardup_pairs_blas`` / ``lsh_neardup_pairs``: exact blocked-BLAS and
  random-hyperplane (signed random projection) LSH near-duplicate
  pairs.
- ``semdedup_pairs`` / ``semdedup_drops``: SemDeDup cluster-then-prune.

All four top-k searches run one scan, ``_topk_scan``: a ``mapInArrow``
that decodes each Arrow batch of corpus rows to a (rows x dim) matrix
(unit vectors, or the codebook reconstruction of PQ codes), scores it
against the query matrix with one BLAS product, and emits each query's
local top rows; one window takes the global top-k.

Vectors cross the Arrow boundary at one reader and one writer:
``_unit_rows`` (a pyarrow list array -> float64 matrix of unit rows, by
one reshape of the flat values over ``_list_rows``) and ``_list_array``
(an int matrix -> list array from offsets and values). The
nearest-cell projection and the IVF-PQ encoder are ``F.arrow_udf``s,
the fit sample and the query matrix are read with
``DataFrame.toArrow()``, and ``neardup_pairs_blas`` / ``semdedup_pairs``
are ``applyInArrow`` groups over one cosine-pair kernel,
``_cosine_pairs``.

The map-side Arrow stages (the scan, the encoder, the nearest-cell
projection) take their task count from one rule, ``_arrow_sized``: a
materialized cache or local relation that fits one Arrow batch (and,
for a scan, a bounded score matrix) runs as one Python task; the
grouped kernels keep the tasks AQE coalesces.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.util import HandyException, _stated_rows


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def with_norm(df: DataFrame, src: Column, vec_name: str,
              norm_name: str) -> DataFrame:
    """Project the raw vector plus its scalar L2 norm — O(dim) once per
    row, immune to projection collapse (the norm lives in its own column,
    never inside an array lambda)."""
    return df.withColumn(vec_name, src).withColumn(norm_name,
                                                   norm_expr(F.col(vec_name)))


def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id") \
        -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: ``ivf_topk``
    over one cell, which holds every row and which every query probes.
    queries: DataFrame with (id_col, vec_col), read once to the driver
    under ``ivf_topk``'s default ``max_query_rows``."""
    return ivf_topk(df, queries, k=k, n_centroids=1, nprobe=1,
                    vec_col=vec_col, id_col=id_col)


def neardup_pairs_blas(df: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", threshold: float = 0.9,
                       round_to: int = 6, blocks: int = 8) -> DataFrame:
    """Exact cosine-over-threshold pairs, vectorized and fully distributed.

    Blocked all-pairs: rows hash into ``blocks`` buckets by id; each of
    the B(B+1)/2 unordered block pairs is one ``applyInArrow`` group,
    each row is shuffled to the B groups it participates in, and each
    group runs the cosine-pair kernel (``_cosine_pairs``: chunked
    numpy/BLAS matmuls) between its two blocks. Task memory is bounded
    by 2·|corpus|/blocks rows — nothing is ever materialized on the
    driver. (The previous design collected the whole corpus driver-side
    and broadcast the dense matrix; at 10M × 768-d that is ~30 GB on one
    machine.) A zero vector scores cosine 0 against every row.

    Compute is inherently O(n²/2) dot products — that IS the exact
    contract. At 100 TB, run ``lsh_neardup_pairs`` to get candidates (or
    this function on an LSH-bucketed subset), and size ``blocks`` ≈
    corpus_bytes / per-task memory budget so two blocks fit in one task.
    Shuffle volume is blocks× the corpus — B stays small (8-64); the
    win is bounded memory and B(B+1)/2-way parallel BLAS."""
    v = df.select(F.col(id_col).cast("long").alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    v = v.withColumn(
        "_b", F.pmod(F.xxhash64(F.col("_id")), F.lit(blocks)).cast("int"))
    # replicate each row to every block pair it belongs to: row in block b
    # lands in groups {(min(b,j), max(b,j)) : j in 0..B-1}, all distinct
    keyed = (v.withColumn(
                 "_j", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))))
              .select(F.least("_b", "_j").alias("_gi"),
                      F.greatest("_b", "_j").alias("_gj"),
                      "_id", "_v", "_b"))

    def block_pairs(key, tbl):
        gi, gj = (k.as_py() for k in key)
        # intra-block: one set; cross-block: pairs across the two blocks
        side = None if gi == gj else tbl["_b"].to_numpy() == gi
        return _cosine_pairs(tbl, vec_col, threshold, round_to, side)

    return keyed.groupBy("_gi", "_gj").applyInArrow(
        block_pairs, "id_a long, id_b long, cosine double")


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim)


def srp_bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Signed-random-projection bucket id: sign bit per hyperplane packed
    into an int — a native expression per plane (no UDF)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(x)) for x in p]),
                       lambda v, w: v * w),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id", threshold: float = 0.9,
                      bits: int = 8, tables: int = 2,
                      dim: int | None = None, seed: int = 42) -> DataFrame:
    """Approximate cosine-near-dup pairs: join only within matching SRP
    buckets (union over ``tables`` independent hash tables), verify exact
    cosine on candidates."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    v = df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    cands = None
    for t in range(tables):
        planes = _hyperplanes(dim, bits, seed + t)
        bucketed = v.withColumn("_b", srp_bucket_expr(F.col("_v"), planes)) \
                    .withColumn("_t", F.lit(t))
        a, b = bucketed.alias("a"), bucketed.alias("b")
        p = (a.join(b, (F.col("a._b") == F.col("b._b")) &
                       (F.col("a._t") == F.col("b._t")) &
                       (F.col("a._id") < F.col("b._id")))
              .select(F.col("a._id").alias("id_a"),
                      F.col("b._id").alias("id_b"),
                      F.col("a._v").alias("_va"), F.col("b._v").alias("_vb")))
        cands = p if cands is None else cands.unionByName(p)
    cands = cands.dropDuplicates(["id_a", "id_b"])
    cos = cosine_expr(F.col("_va"), F.col("_vb"))
    return (cands.select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
                 .filter(F.col("cosine") >= threshold))


def _query_table(df: DataFrame, queries: DataFrame, vec_col: str,
                 id_col: str, max_query_rows: int | None,
                 op: str) -> pa.Table:
    """The query side of a top-k search, read ONCE: one Arrow table of
    (query_id, _q) with at most ``max_query_rows + 1`` rows, the ids
    cast to the corpus id type (string/int/long ids all round-trip).
    The scan holds the queries driver-side and broadcasts them, so a
    corpus-sized query frame would melt the executors silently: more
    rows than the cap raise a ``ValueError``; ``max_query_rows=None``
    lifts the cap."""
    q = queries.select(
        F.col(id_col).cast(df.schema[id_col].dataType).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_q"))
    if max_query_rows is not None:
        q = q.limit(max_query_rows + 1)
    qt = q.toArrow()
    if max_query_rows is not None and qt.num_rows > max_query_rows:
        raise ValueError(
            f"{op} holds the query frame driver/broadcast-side (contract: "
            f"queries are small) and it exceeds "
            f"max_query_rows={max_query_rows}; batch the query side, use "
            f"neardup_pairs_blas for frame-vs-frame search, or pass "
            f"max_query_rows=None to force")
    return qt


def _list_rows(arr, col: str, dim: int | None = None) -> np.ndarray:
    """A pyarrow list array (or chunked array) -> (n, dim) matrix of its
    values: one reshape of the flat values, no per-row Python. ``dim``
    (default: the first row's length) shapes an empty input. A NULL or
    wrong-length list is a ``HandyException`` naming ``col``."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise HandyException(f"column {col!r} has a NULL vector")
    lens = np.diff(arr.offsets.to_numpy())
    if dim is None:
        dim = int(lens[0]) if len(lens) else 0
    bad = lens != dim
    if bad.any():
        raise HandyException(f"column {col!r} has a vector of length "
                             f"{lens[bad][0]}, expected {dim}")
    return arr.flatten().to_numpy(zero_copy_only=False).reshape(len(arr),
                                                                dim)


def _unit(X: np.ndarray) -> np.ndarray:
    """L2-unit rows; the norm is floored at 1e-12, so a zero vector
    stays a zero row instead of turning into NaN."""
    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)


def _unit_rows(arr, col: str, dim: int | None = None) -> np.ndarray:
    """The one vector reader of the family: a pyarrow list array of
    ``col`` vectors -> float64 (n, dim) matrix of unit rows."""
    return _unit(_list_rows(arr, col, dim))


def _list_array(M: np.ndarray) -> pa.ListArray:
    """The one vector writer: an (n, m) int matrix -> ``array<int>``
    list array built from offsets and the flat values."""
    n, m = M.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * m + 1, m, dtype=np.int32)),
        pa.array(M.astype(np.int32).ravel()))


def _cosine_pairs(tbl: pa.Table, col: str, threshold: float,
                  round_to: int, side: np.ndarray | None = None) -> pa.Table:
    """The one cosine-pair kernel of ``neardup_pairs_blas`` and
    ``semdedup_pairs``, over one Arrow group (``_id``, ``_v``): unit rows
    scored in 1024-row chunks (a step holds at most 1024 x |group|
    cosines), rounded to ``round_to`` digits and kept at ``>=
    threshold``. Without ``side`` the group is one set and each pair is
    emitted once, id_a < id_b. A boolean ``side`` splits the group into
    two disjoint blocks; only pairs across them are scored, emitted as
    (min, max) id. Returns (id_a, id_b, cosine), ids of ``_id``'s type."""
    X, ids = _unit_rows(tbl["_v"], col), tbl["_id"].to_numpy()
    A, ia, B, ib = ((X, ids, X, ids) if side is None
                    else (X[side], ids[side], X[~side], ids[~side]))
    parts = [(ia[:0], ib[:0], np.empty(0))]
    for lo in range(0, len(A), 1024):
        cos = np.round(A[lo:lo + 1024] @ B.T, round_to)
        ii, jj = np.nonzero(cos >= threshold)
        a, b, c = ia[lo + ii], ib[jj], cos[ii, jj]
        if side is None:
            keep = a < b
            a, b, c = a[keep], b[keep], c[keep]
        parts.append((np.minimum(a, b), np.maximum(a, b), c))
    a, b, c = (np.concatenate(p) for p in zip(*parts))
    t = tbl.schema.field("_id").type
    return pa.table({"id_a": pa.array(a, t), "id_b": pa.array(b, t),
                     "cosine": pa.array(c, pa.float64())})


# most |queries| x |rows| scores one scan task holds (32 MB at fp64).
# Measured on a cached 10k x 64 corpus, 4-core host, one task vs four:
# at 1.3M scores (128 queries) one task is faster (PQ 0.39 vs 0.48 s,
# exact 0.34 vs 0.47 s) on half the CPU; at 5M (512 queries) it is
# within 0.1 s on ~1 s less CPU; at 20M (2000 queries) it takes twice
# the wall time (PQ 1.53 vs 0.69 s)
_ONE_TASK_SCORES = 1 << 22


def _arrow_sized(frame: DataFrame, source: DataFrame | None = None,
                 queries: int | None = None) -> DataFrame:
    """The one task-count rule of the family's map-side Arrow stages:
    ``_topk_scan``'s ``mapInArrow`` (``queries`` is its query count),
    the ``ivfpq_encode`` Arrow UDF and the ``_nearest_cell_udf``
    projections. A Python task has a fixed start-up cost far above what
    a kernel spends on one small batch (pyspark 4.1 under CPython 3.11:
    0.1-0.2 s of worker CPU, most of it in
    ``importlib.invalidate_caches``), so the task count follows the
    stage's work, not its input's files or the cluster's cores:

    - when ``source`` (default ``frame``: the input before the stage's
      own kernel) states its row count (``core.util._stated_rows``, the
      library's one materialized-frame check; ``collect_sized`` bounds
      the same rows by cells for the driver-bound plans), the count
      fits one Arrow batch (``spark.sql.execution.arrow.
      maxRecordsPerBatch``; <= 0 is no limit) and a scan's
      |queries| x |rows| scores stay within ``_ONE_TASK_SCORES``, the
      stage is one task, on ``coalesce(1)``: narrow, no shuffle;
    - otherwise the scan repartitions a frame with fewer partitions
      than ``defaultParallelism`` up to it, so a corpus in a few large
      files does not serialize a |queries| x |corpus| scan into a few
      tasks (measured 98 s at 2000 x 200k rows on the 3 tasks of its
      input splits, ~8 s on 32). A cell filter pushed into the rows
      sits below that shuffle, so parquet cell pruning still happens at
      the read.

    Neither changes a result: the kernels work per row or per batch,
    and the scan's per-batch top rows meet in one global window."""
    spark = frame.sparkSession
    count = _stated_rows(frame if source is None else source)
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if (count is not None and (batch <= 0 or count <= batch)
            and count * (queries or 1) <= _ONE_TASK_SCORES):
        return frame.coalesce(1)
    n = spark.sparkContext.defaultParallelism
    if (queries is not None
            and frame._jdf.queryExecution().toRdd().getNumPartitions() < n):
        return frame.repartition(n)
    return frame


#: rows per BLAS product of the top-k scan (see ``_tile_scores``)
_SCORE_TILE = 256


def _tile_scores(Q: np.ndarray, R: np.ndarray) -> np.ndarray:
    """``Q @ R.T`` as fixed (|Q| x ``_SCORE_TILE``) products, the last
    tile zero-padded. A BLAS product's rounding depends on its operand
    shapes: scored in one product per batch, a row gets different last
    bits in batches of different sizes (fp64 as well as fp32), and the
    (score desc, neighbor_id asc) order of tied rows would follow the
    batching. Every tile has one shape, so a row scores the same in
    any batch."""
    n = len(R)
    R = np.concatenate([R, np.zeros((-n % _SCORE_TILE, R.shape[1]))])
    out = np.empty((len(Q), len(R)))
    for i in range(0, len(R), _SCORE_TILE):
        np.matmul(Q, R[i:i + _SCORE_TILE].T,
                  out=out[:, i:i + _SCORE_TILE])
    return out[:, :n]


def _topk_scan(rows: DataFrame, qt: pa.Table, C: np.ndarray, nprobe: int,
               take: int, vec_col: str, books: np.ndarray | None = None,
               source: DataFrame | None = None) -> DataFrame:
    """The one scorer of the ANN top-k family: a ``mapInArrow`` over the
    corpus ``rows`` against the ``_query_table`` ``qt``, emitting
    (query_id, neighbor_id, score) candidates for one window to rank.

    ``rows`` carries ``neighbor_id`` plus either the raw vector ``_v``
    (exact rows, ``books`` None) or ``cell`` and ``pq_code`` (PQ
    residual codes of ``books``). Each Arrow batch decodes to cells and
    a (rows x dim) matrix R: exact rows are their unit vectors, in the
    nearest of the centroids ``C``; PQ rows are the codebook
    reconstruction of their code, one fancy index into ``books``. BLAS
    products in fixed tiles score the batch, Q @ R.T (``_tile_scores``,
    so a row's score does not depend on its batch), plus <q, C[cell]>
    for PQ residuals; exact scores are rounded to 6 digits, as
    ``_cosine_pairs`` rounds. A zero vector scores 0 (``_unit``'s norm
    floor). Rows outside a query's ``nprobe`` nearest cells and rows
    whose id is the query's own are masked before the cut, as the file
    pruning of a cell-partitioned layout would skip them. Each batch then emits, per
    query, every row scoring at least its ``take``-th best: ties at the
    cut are all kept (at most one batch of rows per query), and the
    window's (score desc, neighbor_id asc) order picks among them.

    ``source`` (default ``rows``) is the frame ``_arrow_sized`` sizes
    the scan by: the corpus under an encode the caller chained into
    ``rows``."""
    sc = rows.sparkSession.sparkContext
    n_cells, dim = C.shape
    Q = _unit_rows(qt["_q"], vec_col, dim)
    CT = Q @ C.T
    probe = None                    # probing every cell needs no mask
    if nprobe < n_cells:
        probe = np.zeros(CT.shape, dtype=bool)
        np.put_along_axis(probe, np.argsort(-CT, axis=1)[:, :nprobe],
                          True, axis=1)
    b_scan = sc.broadcast((qt["query_id"].combine_chunks(), Q, CT, probe,
                           C, books))
    rows = _arrow_sized(rows, source, qt.num_rows)
    if not qt.num_rows:             # no queries: same schema, no rows
        rows = rows.limit(0)

    def _scan(batches):
        qa, Qv, CTv, P, Cv, B = b_scan.value
        ids = qa.to_numpy(zero_copy_only=False)
        for batch in batches:
            nbr = batch.column("neighbor_id")
            if B is None:
                R = _unit_rows(batch.column("_v"), vec_col, dim)
                cells = np.argmax(_tile_scores(Cv, R), axis=0)
                s = np.round(_tile_scores(Qv, R), 6)
            else:
                codes = _list_rows(batch.column("pq_code"), "pq_code",
                                   len(B))
                cells = batch.column("cell").to_numpy()
                R = B[np.arange(len(B)), codes].reshape(len(codes), dim)
                s = CTv[:, cells] + _tile_scores(Qv, R)
            if P is not None:
                s[~P[:, cells]] = -np.inf
            # ids are not assumed unique: every row equal to a query id
            # is masked, comparing only the rows that hold some query id
            hit = np.nonzero(pc.is_in(nbr, value_set=qa)
                             .to_numpy(zero_copy_only=False))[0]
            qi, hj = np.nonzero(
                ids[:, None] == nbr.take(hit).to_numpy(
                    zero_copy_only=False)[None, :])
            s[qi, hit[hj]] = -np.inf
            kk = min(take, len(R))
            cut = np.partition(s, len(R) - kk, axis=1)[:, len(R) - kk]
            qi, rj = np.nonzero((s >= cut[:, None]) & (s > -np.inf))
            yield pa.RecordBatch.from_arrays(
                [pc.take(qa, qi), pc.take(nbr, rj),
                 pa.array(s[qi, rj].astype(np.float64))],
                names=["query_id", "neighbor_id", "score"])

    idt = rows.schema["neighbor_id"].dataType
    return rows.mapInArrow(_scan, T.StructType([
        T.StructField("query_id", idt), T.StructField("neighbor_id", idt),
        T.StructField("score", T.DoubleType())]))


def _top_rows(cand: DataFrame, score: str, n: int) -> DataFrame:
    """Each query's first ``n`` rows by (``score`` desc, neighbor_id
    asc), numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score),
                                               F.asc("neighbor_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n))


def _sample_unit_rows(df: DataFrame, vec_col: str, id_col: str, n: int,
                      fit: str) -> np.ndarray:
    """Bounded deterministic fit sample: the first ``n`` vectors in
    md5(id) order, as unit rows. An empty corpus is a named error."""
    tbl = (df.orderBy(F.md5(F.col(id_col).cast("string")))
           .limit(n)
           .select(F.col(vec_col).cast("array<double>").alias("_v"))
           .toArrow())
    if not tbl.num_rows:
        raise HandyException(
            f"{fit} needs a sample to fit on: the corpus has no vectors")
    return _unit_rows(tbl["_v"], vec_col)


def _nearest_cell_udf(b_C, col: str):
    """Arrow UDF: id of the nearest (max inner product) broadcast
    centroid per ``col`` vector, one BLAS matmul per Arrow batch — a
    literal centroid expression tree (n_centroids × dim constants)
    blows past codegen limits and is ~10× slower."""
    def _cell(vs):
        C = b_C.value
        return pa.array(np.argmax(_unit_rows(vs, col, C.shape[1]) @ C.T,
                                  axis=1).astype(np.int32))
    return F.arrow_udf(_cell, "int")


def _refine_centroids(df: DataFrame, C: np.ndarray, vec_col: str,
                      kmeans_iters: int) -> np.ndarray:
    """``kmeans_iters`` distributed spherical-Lloyd rounds from the seed
    centroids ``C``: assign via the BLAS matmul, recompute cell means via
    posexplode + one grouped avg, renormalize; an empty cell keeps its
    previous centroid."""
    sc = df.sparkSession.sparkContext
    for _ in range(kmeans_iters):
        b_it = sc.broadcast(C)
        a = (_arrow_sized(
                df.select(F.col(vec_col).cast("array<double>").alias("_v")))
             .withColumn("_cell", _nearest_cell_udf(b_it, vec_col)(
                 F.col("_v")))
             .select("_cell", F.posexplode("_v").alias("pos", "val")))
        M = np.zeros_like(C)
        for r in (a.groupBy("_cell", "pos").agg(F.avg("val").alias("m"))
                  .collect()):
            M[r["_cell"], r["pos"]] = r["m"]
        U = _unit(M)
        # an empty cell (zero row) keeps its previous centroid
        C = np.where(U.any(axis=1, keepdims=True), U, C)
        b_it.destroy()
    return C


def ivf_fit_centroids(df: DataFrame, n_centroids: int = 16,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      kmeans_iters: int = 0) -> np.ndarray:
    """Fit the IVF coarse quantizer: deterministic hash-ordered sample of
    ``n_centroids`` corpus vectors, L2-normalized, optionally refined
    with ``kmeans_iters`` distributed spherical-Lloyd rounds
    (``_refine_centroids``). The returned (n_centroids × dim) matrix is
    driver-tiny. At 100 TB this runs ONCE — persist it with
    ``pipeline.ann_index.IVFIndex`` instead of refitting per query
    batch."""
    C = _sample_unit_rows(df, vec_col, id_col, n_centroids,
                          "ivf_fit_centroids")
    return _refine_centroids(df, C, vec_col, kmeans_iters)


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 5,
             n_centroids: int = 16, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             kmeans_iters: int = 0,
             centroids: np.ndarray | None = None,
             max_query_rows: int | None = 100_000) -> DataFrame:
    """IVF-flat ANN: coarse-quantizer centroids; each corpus row falls in
    its nearest centroid's cell, each query probes its ``nprobe``
    nearest cells, and the probed rows are ranked by exact cosine,
    rounded to 6 digits, ties to the lower neighbor id. Returns
    (query_id, neighbor_id, cosine, rank). At 100 TB the cell assignment
    is written once (partitioned by cell) and queries touch
    nprobe/n_centroids of the data.

    ``centroids``: a pre-fitted quantizer (e.g. loaded via
    ``pipeline.ann_index.IVFIndex.load``) — skips the fit entirely, the
    train-once/probe-many production shape. Without it the quantizer is
    fitted inline by ``ivf_fit_centroids`` (see it for ``kmeans_iters``);
    one cell holds every row whatever its centroid, so ``n_centroids=1``
    fits nothing and is exact (``brute_force_topk``). The queries are
    read once (see ``_query_table`` for ``max_query_rows``)."""
    qt = _query_table(df, queries, vec_col, id_col, max_query_rows,
                      "ivf_topk")
    if centroids is None and n_centroids == 1:
        centroids = np.zeros((1, _list_rows(qt["_q"], vec_col).shape[1]))
    C = centroids if centroids is not None else ivf_fit_centroids(
        df, n_centroids, vec_col, id_col, kmeans_iters)
    rows = df.select(
        F.col(id_col).cast(df.schema[id_col].dataType).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_v"))
    cand = _topk_scan(rows, qt, np.asarray(C, dtype=np.float64), nprobe, k,
                      vec_col)
    return _top_rows(cand.withColumnRenamed("score", "cosine"), "cosine", k)


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label",
                    assemble: bool = False) -> DataFrame:
    """Per-label mean vector (cluster centroids — the IVF coarse-quantizer
    building block and the standard embedding-cluster summary).

    ``posexplode`` fans each vector into (pos, val) rows, one
    ``groupBy(label, pos)`` averages them — map-side partial aggregation
    makes the shuffle |labels| × dim rows regardless of corpus size.
    Long form (label, pos, centroid) by default; ``assemble=True`` adds a
    second tiny agg that re-assembles ordered ``array<double>`` vectors.
    """
    ex = df.select(F.col(label_col).alias("label"),
                   F.posexplode(F.col(vec_col).cast("array<double>"))
                   .alias("pos", "val"))
    long_form = (ex.groupBy("label", "pos")
                 .agg(F.avg("val").alias("centroid")))
    if not assemble:
        return long_form
    return (long_form.groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s["centroid"]).alias("centroid")))


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        bits: int = 8) -> DataFrame:
    """Symmetric per-dimension linear quantization of an embedding column
    to ``bits``-bit signed integers — the standard 4× (int8) storage/
    bandwidth cut before ANN indexing, with per-dim scales preserved for
    dequantization.

    q[d] = round(x[d] / scale[d] * (2^(bits-1) - 1)),
    scale[d] = max over the corpus of |x[d]| (0-max dims quantize to 0).

    Plan: per-dim max-abs via ONE posexplode + groupBy(dim) — map-side
    partial max makes the shuffle |dim| rows regardless of corpus size —
    re-assembled into an ordered scale vector in a 1-row frame and
    broadcast back; quantization itself is a zip_with projection. Returns
    (id_col, qvec: array<int>, scales: array<double>)."""
    qmax = (1 << (bits - 1)) - 1
    dims = (df.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                      .alias("_pos", "_val"))
            .groupBy("_pos").agg(F.max(F.abs(F.col("_val"))).alias("_s")))
    scales = dims.agg(
        F.array_sort(F.collect_list(F.struct("_pos", "_s")))
        .alias("_ps")).select(
        F.transform(F.col("_ps"), lambda x: x["_s"]).alias("scales"))
    q = F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col("scales"),
        lambda x, s: F.when(s > 0, F.round(x / s * qmax))
                      .otherwise(F.lit(0.0)).cast("int"))
    return (df.crossJoin(F.broadcast(scales))
            .select(F.col(id_col), q.alias("qvec"), "scales"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bounded approximate search codes.
# Flat PQ is IVF-PQ with one all-zero coarse cell: the residual is the
# vector itself, the centroid term is 0 and every row is probed, so
# ``pq_encode``/``pq_topk`` run the IVF-PQ encoder and ADC scan below.
# ---------------------------------------------------------------------------

def pq_codebooks(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", m: int = 8, nbits: int = 4,
                 sample_n: int = 2048, iters: int = 5,
                 seed: int = 42) -> np.ndarray:
    """Train PQ codebooks on a BOUNDED deterministic sample (hash-ordered
    ``limit`` — never the full corpus): split the (L2-normalized) vectors
    into ``m`` subspaces and run a small numpy k-means (2^nbits centroids,
    ``iters`` Lloyd rounds, seeded init) per subspace. Returns
    (m, 2^nbits, dim/m). The codebook is driver-tiny (m * k * dsub
    floats) and broadcast to encoders/searchers."""
    X = _sample_unit_rows(df, vec_col, id_col, sample_n, "pq_codebooks")
    return _fit_subspace_books(X, m, nbits, iters, seed)


def _fit_subspace_books(X: np.ndarray, m: int, nbits: int,
                        iters: int, seed: int) -> np.ndarray:
    """Per-subspace numpy k-means over a driver-side sample matrix —
    shared by flat-PQ (raw vectors) and IVF-PQ (cell residuals)."""
    k = 1 << nbits
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=k, replace=len(S) < k)]
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books[j] = C
    return books


def _zero_cell(books: np.ndarray) -> np.ndarray:
    """The single all-zero coarse centroid that makes IVF-PQ flat PQ."""
    m, _, dsub = np.shape(books)
    return np.zeros((1, m * dsub))


def pq_encode(df: DataFrame, books: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id",
              code_col: str = "pq_code") -> DataFrame:
    """Add the ``m``-code column: ``ivfpq_encode`` over one all-zero
    cell, without the cell column."""
    return (ivfpq_encode(df, _zero_cell(books), books, vec_col, id_col,
                         "_pq_cell", code_col)
            .drop("_pq_cell"))


def pq_topk(df: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 8, nbits: int = 4, sample_n: int = 2048,
            vec_col: str = "embedding", id_col: str = "vec_id",
            seed: int = 42, rerank: int | None = None,
            books: np.ndarray | None = None,
            encoded: DataFrame | None = None,
            max_query_rows: int | None = 100_000) -> DataFrame:
    """Flat PQ/ADC approximate top-k: ``ivfpq_topk`` over one all-zero
    cell, so the scan, tie, ``rerank`` and ``max_query_rows``
    contracts are ``ivfpq_topk``'s. Without ``books`` the codebooks are
    fitted inline by ``pq_codebooks``; ``encoded`` is a ``pq_encode``
    output carrying (``id_col``, pq_code) and requires the ``books`` it
    was encoded with."""
    if encoded is not None and books is None:
        raise ValueError(
            "pq_topk(encoded=...) requires the frozen books= the codes "
            "were encoded with — refitting here would silently mismatch "
            "the stored codes")
    if books is None:
        books = pq_codebooks(df, vec_col, id_col, m=m, nbits=nbits,
                             sample_n=sample_n, seed=seed)
    if encoded is not None:
        encoded = encoded.select(id_col, "pq_code", F.lit(0).alias("cell"))
    return ivfpq_topk(df, queries, k=k, nprobe=1, vec_col=vec_col,
                      id_col=id_col, rerank=rerank,
                      centroids=_zero_cell(books), books=books,
                      encoded=encoded, max_query_rows=max_query_rows)


def _exact_rerank(df: DataFrame, queries: DataFrame, shortlist: DataFrame,
                  k: int, vec_col: str, id_col: str,
                  shortlist_rows: int | None = None) -> DataFrame:
    """Exact re-rank of a (query_id, neighbor_id) shortlist: join raw
    vectors back in (hash join keyed on the corpus id — touches only
    candidate rows) and score true cosine; the broadcast query frame
    carries the query vectors.

    ``shortlist_rows``: the caller's |queries| x rerank bound. When the
    shortlist is KNOWN large (the exact-switch shape, rerank ~ corpus)
    the corpus join is pinned to sort-merge — otherwise AQE sees a
    shuffle size under its broadcast threshold (ids compress well) and
    builds a multi-million-row HashedRelation on the driver, which
    measured 4x SLOWER than SMJ at sf10 (8 x 200k shortlist: rerank
    stage 8.2s broadcast vs 2.0s merge) and is a driver-memory hazard
    at scale. Small production shortlists (rerank ~ 50) keep AQE's
    broadcast conversion. A zero vector scores cosine 0, as it does in
    ``_topk_scan``, so the exact switch equals ``brute_force_topk``."""
    c = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).cast("array<double>").alias("_c0")),
        F.col("_c0"), "_cv", "_cn").drop("_c0")
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_q0")),
        F.col("_q0"), "_qv", "_qn").drop("_q0")
    if shortlist_rows is not None and shortlist_rows > 500_000:
        c = c.hint("merge")
    scored = (shortlist.join(c, "neighbor_id")
              .join(F.broadcast(q), "query_id"))
    den = F.col("_qn") * F.col("_cn")
    cos = F.when(den == 0, F.lit(0.0)).otherwise(
        dot_expr(F.col("_qv"), F.col("_cv")) / den)
    return _top_rows(scored.select("query_id", "neighbor_id",
                                   F.round(cos, 6).alias("score")),
                     "score", k)


# ---------------------------------------------------------------------------
# IVF-PQ — coarse inverted lists + product-quantized residuals
# (Jegou, Douze, Schmid: "Product quantization for nearest neighbor
# search", TPAMI 2011 — the standard billion-scale ANN layout).
# ---------------------------------------------------------------------------

def ivfpq_fit(df: DataFrame, n_centroids: int = 16, m: int = 8,
              nbits: int = 4, sample_n: int = 2048, iters: int = 5,
              vec_col: str = "embedding", id_col: str = "vec_id",
              seed: int = 42, kmeans_iters: int = 0) \
        -> tuple[np.ndarray, np.ndarray]:
    """Fit IVF-PQ: the IVF coarse quantizer plus PQ codebooks trained on
    CELL RESIDUALS (x_norm - centroid[cell]) of a bounded deterministic
    sample. Residual quantization is what makes IVF-PQ beat flat PQ:
    residual magnitudes are a fraction of vector magnitudes, so the same
    code budget quantizes much finer. Returns (centroids, books) — both
    driver-tiny; persist with ``pipeline.ann_index.IVFPQIndex`` at scale
    (train ONCE, probe for months)."""
    # one md5-ordered sample seeds the centroids (its first n_centroids
    # rows, as ivf_fit_centroids samples) and trains the books
    S = _sample_unit_rows(df, vec_col, id_col, max(sample_n, n_centroids),
                          "ivfpq_fit")
    C = _refine_centroids(df, S[:n_centroids], vec_col, kmeans_iters)
    X = S[:sample_n]
    cells = np.argmax(X @ C.T, axis=1)
    books = _fit_subspace_books(X - C[cells], m, nbits, iters, seed)
    return C, books


def ivfpq_encode(df: DataFrame, centroids: np.ndarray, books: np.ndarray,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 cell_col: str = "cell",
                 code_col: str = "pq_code") -> DataFrame:
    """Encode the corpus for IVF-PQ: ONE Arrow UDF projection adds
    (cell id, residual PQ code) — one normalization, one centroid
    matmul, one residual encode per Arrow batch, the codes written back
    as one list array. All input columns are kept,
    so the encoded corpus can be written out once
    ``.write.partitionBy(cell_col)`` — the layout where a probe reads
    nprobe/n_centroids of the files and searches scan CODES
    (|docs| x m small ints) instead of raw vectors. Codes stay
    comparable across batches because the codebooks are frozen."""
    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(books, dtype=np.float64)
    mm, _, dsub = B.shape
    sc = df.sparkSession.sparkContext
    b_C, b_books = sc.broadcast(C), sc.broadcast(B)

    def _enc(vs):
        Cv, Bv = b_C.value, b_books.value
        X = _unit_rows(vs, vec_col, Cv.shape[1])
        cells = np.argmax(X @ Cv.T, axis=1)
        R = X - Cv[cells]
        codes = np.empty((len(X), mm), dtype=np.int64)
        for j in range(mm):
            S = R[:, j * dsub:(j + 1) * dsub]
            d2 = ((S[:, None, :] - Bv[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        return pa.StructArray.from_arrays(
            [pa.array(cells.astype(np.int32)), _list_array(codes)],
            names=[cell_col, code_col])

    enc = F.arrow_udf(_enc, f"{cell_col} int, {code_col} array<int>")
    return (_arrow_sized(df)
            .withColumn("_e", enc(F.col(vec_col).cast("array<double>")))
            .withColumn(cell_col, F.col(f"_e.{cell_col}"))
            .withColumn(code_col, F.col(f"_e.{code_col}"))
            .drop("_e"))


def ivfpq_topk(df: DataFrame, queries: DataFrame, k: int = 5,
               n_centroids: int = 16, nprobe: int = 4, m: int = 8,
               nbits: int = 4, sample_n: int = 2048,
               vec_col: str = "embedding", id_col: str = "vec_id",
               seed: int = 42, rerank: int | None = None,
               centroids: np.ndarray | None = None,
               books: np.ndarray | None = None,
               encoded: DataFrame | None = None,
               max_query_rows: int | None = 100_000) -> DataFrame:
    """IVF-PQ ANN top-k: corpus rows carry (cell id, residual PQ code) —
    ONE Arrow-batched projection; each query probes its ``nprobe``
    nearest cells and ADC-scores only rows in probed cells:

        score(q, x) ≈ <q, centroid[cell(x)]> + <q, recon(code(x))>

    where recon is the residual codebook reconstruction (asymmetric
    distance computation). ``_topk_scan`` computes it per Arrow batch
    as one GEMM against the batch's reconstructions and emits only its
    local top-take per query (NEVER the full cross product), then one
    window takes the global top-k by (score desc, neighbor_id asc).
    At 100 TB the encoded corpus is written once PARTITIONED BY CELL,
    so a probe reads nprobe/n_centroids of the files — the scan here
    filters the same fraction row-wise. ``pq_topk`` is this scan over
    one all-zero cell.

    ``rerank=C`` is the production pattern: ADC selects the top C
    candidates per query (C >> k), then ONLY those C rows are re-scored
    with exact cosine against the raw vectors — recall approaches exact
    at C/|corpus| of the exact cost. Without it, pure ADC recall is
    bounded by quantization error (worst on unclustered vectors).

    ``nprobe >= n_centroids`` plus ``rerank >= |corpus|`` is the exact
    switch (every cell probed, every ADC candidate exact-rescored):
    output equals ``brute_force_topk`` — the oracle convention shared
    with ``ivf_topk``/``pq_topk``. Approximate recall is pinned in
    tests.

    ``encoded``: a pre-encoded corpus frame carrying (``id_col``,
    cell, pq_code) — the ``ivfpq_encode`` output, typically read back
    from a cell-partitioned parquet layout. The ADC scan then touches
    ONLY the code columns (never re-encodes raw vectors — at 100 TB
    that is the difference between scanning |docs| x m small ints and
    re-running the encode projection per query batch); requires
    ``centroids``/``books`` (the frozen index the codes were encoded
    with). The raw ``df`` is still consulted by the ``rerank`` path,
    which joins true vectors back for ONLY the shortlisted rows.

    The queries are read once (see ``_query_table`` for
    ``max_query_rows``)."""
    if encoded is not None and (centroids is None or books is None):
        raise ValueError(
            "ivfpq_topk(encoded=...) requires the frozen centroids= and "
            "books= the codes were encoded with — refitting here would "
            "silently mismatch the stored codes")
    qt = _query_table(df, queries, vec_col, id_col, max_query_rows,
                      "ivfpq_topk")
    if centroids is None or books is None:
        centroids, books = ivfpq_fit(
            df, n_centroids, m, nbits, sample_n,
            vec_col=vec_col, id_col=id_col, seed=seed)
    C = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(books, dtype=np.float64)
    source = df if encoded is None else encoded
    if encoded is None:
        encoded = ivfpq_encode(df, C, books, vec_col, id_col)
    rows = encoded.select(
        F.col(id_col).cast(df.schema[id_col].dataType).alias("neighbor_id"),
        "cell", "pq_code")
    cand = _topk_scan(rows, qt, C, nprobe, max(k, rerank or 0), vec_col,
                      books, source)
    if rerank is None:
        return (_top_rows(cand, "score", k)
                .select("query_id", "neighbor_id",
                        F.round("score", 6).alias("score"), "rank"))
    shortlist = _top_rows(cand, "score", rerank).select("query_id",
                                                        "neighbor_id")
    return _exact_rerank(df, queries, shortlist, k, vec_col, id_col,
                         shortlist_rows=qt.num_rows * rerank)


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup by cluster-then-prune (Abbas et al. 2023)
# ---------------------------------------------------------------------------

def sign_cell_expr(vec: Column, sign_bits: int = 6) -> Column:
    """Deterministic cluster id from the SIGNS of the first ``sign_bits``
    embedding dimensions — axis-aligned random-projection LSH (the
    hyperplanes are the coordinate axes, so the oracle can reproduce the
    cell id with plain SQL, unlike seeded-random hyperplanes). One pure
    projection."""
    bits = [
        (F.element_at(vec, d + 1) >= 0).cast("int") * F.lit(1 << d)
        for d in range(sign_bits)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def semdedup_pairs(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.93,
                   sign_bits: int = 6) -> DataFrame:
    """SemDeDup candidate pairs: embeddings are bucketed into 2^sign_bits
    sign-cells, and cosine similarity is computed ONLY within a cell —
    the cluster-then-prune shape of SemDeDup (Abbas et al. 2023), with
    k-means replaced by a deterministic LSH cell so results are exact,
    reproducible, and oracle-checkable (swap in ``label_centroids``
    cluster ids for the k-means variant without touching the join).

    Plan shape: ONE exchange keyed on the cell id; per-cell pair work is
    |cell|², bounded by the cell granularity you pick — at 100 TB you
    raise ``sign_bits`` so cells stay ~1e3-1e4 rows, keeping every
    task's work bounded while total work stays |corpus| x |cell| not
    |corpus|². Each cell is one ``applyInArrow`` group running the
    cosine-pair kernel (``_cosine_pairs``: 1024-row chunks bound the
    similarity matrix to ~1024 x |cell| doubles per step); measured ~15x
    a self-join with a native ``zip_with`` cosine at sf1 (200k x 64-d:
    55s -> BLAS task-bound). ``dedup.embedding_neardup_pairs`` with
    ``block_col`` set to the cell is that expression reference. A zero
    vector scores cosine 0 against every row.

    Returns (id_a, id_b, cell, cosine >= threshold), id_a < id_b.
    """
    e = F.col(vec_col).cast("array<double>")
    keyed = df.select(F.col(id_col).alias("_id"), e.alias("_v"),
                      sign_cell_expr(e, sign_bits).alias("cell"))
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type), T.StructField("id_b", id_type),
        T.StructField("cell", T.IntegerType()),
        T.StructField("cosine", T.DoubleType())])

    def cell_pairs(key, tbl):
        pairs = _cosine_pairs(tbl, vec_col, threshold, 6)
        return pairs.add_column(2, "cell", pa.array(
            np.full(pairs.num_rows, key[0].as_py(), dtype=np.int32)))

    return keyed.groupBy("cell").applyInArrow(cell_pairs, out_schema)


def semdedup_drops(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", threshold: float = 0.93,
                   sign_bits: int = 6,
                   quality_col: str | None = None) -> DataFrame:
    """The SemDeDup drop set: for every intra-cell pair above the cosine
    threshold, drop the member with the LOWER quality (ties and the
    default no-quality case: drop the higher id — 'keep the first seen'
    convention). Distinct ids, one extra projection + distinct over
    ``semdedup_pairs``; anti-join the result against the corpus to
    apply. Deterministic regardless of partitioning."""
    pairs = semdedup_pairs(df, vec_col, id_col, threshold, sign_bits)
    if quality_col is None:
        victim = F.col("id_b")
    else:
        qa = df.select(F.col(id_col).alias("id_a"),
                       F.col(quality_col).alias("_qa"))
        qb = df.select(F.col(id_col).alias("id_b"),
                       F.col(quality_col).alias("_qb"))
        pairs = pairs.join(qa, "id_a").join(qb, "id_b")
        victim = F.when(F.col("_qa") < F.col("_qb"), F.col("id_a")) \
                  .otherwise(F.col("id_b"))
    return (pairs.select(victim.alias("dropped"))
            .distinct())
