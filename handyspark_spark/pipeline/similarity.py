"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k via a broadcast join of the
  (small) query set against the corpus — the correctness baseline. The
  dot product is a native ``F.zip_with`` + ``F.aggregate`` expression
  (JVM-side, no Python). Per-query top-k via window ``row_number``.
- ``neardup_pairs_blas`` / ``lsh_neardup_pairs``: exact blocked-BLAS and
  random-hyperplane (signed random projection) LSH near-duplicate
  pairs.
- ``ivf_topk``: IVF-flat — coarse centroids (sampled deterministically),
  vectors assigned to the nearest centroid, queries probe their
  ``nprobe`` nearest cells with exact cosine.
- ``ivfpq_topk``: IVF-PQ — coarse cells plus product-quantized
  residual codes, scored by one asymmetric-distance (ADC) scan.
  ``pq_topk`` (flat PQ) is the same scan over one all-zero cell.
- ``semdedup_pairs`` / ``semdedup_drops``: SemDeDup cluster-then-prune.

Vectors cross the Arrow boundary at one reader and one writer:
``_unit_rows`` (a pyarrow list array -> float64 matrix of unit rows, by
one reshape of the flat values over ``_list_rows``) and ``_list_array``
(an int matrix -> list array from offsets and values). The nearest-cell
projection, the probe lists and the IVF-PQ encoder are ``F.arrow_udf``s,
the ADC scan is a ``mapInArrow``, the fit sample and the query matrix
are read with ``DataFrame.toArrow()``, and ``neardup_pairs_blas`` /
``semdedup_pairs`` are ``applyInArrow`` groups over one cosine-pair
kernel, ``_cosine_pairs``.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.util import HandyException


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def normalized_expr(a: Column) -> Column:
    """Unit-normalize inside one expression. AVOID in hot paths: Catalyst's
    CollapseProject inlines the norm aggregate into the transform lambda
    and re-evaluates it per element — O(dim²)/row. Hot paths instead carry
    the scalar norm alongside the raw vector (``with_norm``) and divide
    once per PAIR: cosine = dot(a,b)/(na*nb)."""
    n = norm_expr(a)
    return F.transform(a, lambda x: x / n)


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
    """Exact top-k cosine neighbors for each query vector.
    queries: DataFrame with (id_col, vec_col). Broadcast the query side —
    the corpus is scanned once, no shuffle of the corpus itself; the only
    shuffle is the per-query top-k (rows = |queries| × |corpus| reduced by
    the window to |queries| × k)."""
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_q0")),
        F.col("_q0"), "_qv", "_qn").drop("_q0")
    c = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).cast("array<double>").alias("_c0")),
        F.col("_c0"), "_cv", "_cn").drop("_c0")
    cos = dot_expr(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    scored = (c.crossJoin(F.broadcast(q))
               .filter(F.col("query_id") != F.col("neighbor_id"))
               .select("query_id", "neighbor_id",
                       F.round(cos, 6).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


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


def _query_cap_error(op: str, max_query_rows: int) -> ValueError:
    return ValueError(
        f"{op} holds the query frame driver/broadcast-side (contract: "
        f"queries are small) and it exceeds "
        f"max_query_rows={max_query_rows}; batch the query side, use "
        f"brute_force_topk / neardup_pairs_blas for frame-vs-frame "
        f"search, or pass max_query_rows=None to force")


def _cap_query_rows(queries: DataFrame, max_query_rows: int | None,
                    op: str) -> None:
    """Loud guard for the "queries are small" contract of ``ivf_topk``,
    which broadcasts the query frame: a caller passing a corpus-sized
    frame would melt the executors silently. Limit-probed (reads at
    most cap+1 rows); pass ``max_query_rows=None`` to opt out.
    ``ivfpq_topk`` collects the queries anyway and checks the same cap
    on the collected table instead."""
    if max_query_rows is None:
        return
    n = queries.limit(max_query_rows + 1).count()
    if n > max_query_rows:
        raise _query_cap_error(op, max_query_rows)


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
        a = (df.select(F.col(vec_col).cast("array<double>").alias("_v"))
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
             seed: int = 42, kmeans_iters: int = 0,
             centroids: np.ndarray | None = None,
             max_query_rows: int | None = 100_000) -> DataFrame:
    """IVF-flat ANN: coarse-quantizer centroids -> assign corpus rows
    to nearest centroid (one projection) -> each query probes its
    ``nprobe`` nearest centroids -> exact cosine within probed cells.
    At 100 TB the cell assignment is written once (partitioned by cell) and
    queries touch nprobe/n_centroids of the data.

    ``centroids``: a pre-fitted quantizer (e.g. loaded via
    ``pipeline.ann_index.IVFIndex.load``) — skips the fit entirely, the
    train-once/probe-many production shape. Without it the quantizer is
    fitted inline by ``ivf_fit_centroids`` (see it for ``kmeans_iters``)."""
    _cap_query_rows(queries, max_query_rows, "ivf_topk")
    C = centroids if centroids is not None else ivf_fit_centroids(
        df, n_centroids, vec_col, id_col, kmeans_iters)
    nprobe = min(nprobe, len(C))
    b_C = df.sparkSession.sparkContext.broadcast(C)

    def _cells_fn(vs):
        Cv = b_C.value
        return _list_array(np.argsort(
            -(_unit_rows(vs, vec_col, Cv.shape[1]) @ Cv.T),
            axis=1)[:, :nprobe])

    c = with_norm(
        df.select(F.col(id_col).alias("neighbor_id"),
                  F.col(vec_col).cast("array<double>").alias("_c0")),
        F.col("_c0"), "_cv", "_cn").drop("_c0")
    c = c.withColumn("_cell", _nearest_cell_udf(b_C, vec_col)(F.col("_cv")))
    q = with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_q0")),
        F.col("_q0"), "_qv", "_qn").drop("_q0")
    q = q.withColumn("_cells",
                     F.arrow_udf(_cells_fn, "array<int>")(F.col("_qv")))
    joined = (c.join(F.broadcast(q),
                     F.array_contains(F.col("_cells"), F.col("_cell")))
               .filter(F.col("query_id") != F.col("neighbor_id")))
    cos = dot_expr(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (joined.select("query_id", "neighbor_id",
                          F.round(cos, 6).alias("cosine"))
                  .withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


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
            dtype: str = "float32",
            max_query_rows: int | None = 100_000) -> DataFrame:
    """Flat PQ/ADC approximate top-k: ``ivfpq_topk`` over one all-zero
    cell, so the scan, tie, ``rerank``, ``dtype`` and ``max_query_rows``
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
                      encoded=encoded, dtype=dtype,
                      max_query_rows=max_query_rows)


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
    broadcast conversion."""
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
    cos = dot_expr(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("neighbor_id"))
    return (scored.select("query_id", "neighbor_id",
                          F.round(cos, 6).alias("cosine"))
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .withColumnRenamed("cosine", "score"))


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
    return (df.withColumn("_e", enc(F.col(vec_col).cast("array<double>")))
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
               dtype: str = "float32",
               max_query_rows: int | None = 100_000) -> DataFrame:
    """IVF-PQ ANN top-k: corpus rows carry (cell id, residual PQ code) —
    ONE Arrow-batched projection; each query probes its ``nprobe``
    nearest cells and ADC-scores only rows in probed cells:

        score(q, x) ≈ <q, centroid[cell(x)]> + Σ_j LUT[q, j, code_j(x)]

    where the LUT holds residual-codebook inner products (asymmetric
    distance computation). Per Arrow batch the probe test is a boolean
    gather and the score a vectorized LUT sum; each batch emits only
    its local top-take per query (NEVER the full cross product), then
    one window takes the global top-k by (score desc, neighbor_id asc).
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

    ``dtype='float32'`` is the production default: the scan
    (centroid term + LUT gather) is memory-bound and fp32 halves its
    traffic (round-8 sf1 A/B, 200k vectors, 2000 queries: flat PQ
    3.44s -> 2.30s, IVF-PQ 2.53s -> 1.89s median, identical top-k);
    quantization error already dwarfs fp32 rounding and the rerank
    rescores in exact fp64 cosine. Pass 'float64' for the bit-stable
    shortlist the exported-codebook DuckDB oracles pin.

    The queries are read ONCE, as one Arrow table of at most
    ``max_query_rows + 1`` rows; more rows than the cap raise a
    ``ValueError`` (``max_query_rows=None`` lifts the cap)."""
    if encoded is not None and (centroids is None or books is None):
        raise ValueError(
            "ivfpq_topk(encoded=...) requires the frozen centroids= and "
            "books= the codes were encoded with — refitting here would "
            "silently mismatch the stored codes")
    _idt = df.schema[id_col].dataType
    q = queries.select(F.col(id_col).cast(_idt).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("_q"))
    if max_query_rows is not None:
        q = q.limit(max_query_rows + 1)
    qt = q.toArrow()
    if max_query_rows is not None and qt.num_rows > max_query_rows:
        raise _query_cap_error("ivfpq_topk", max_query_rows)
    if centroids is None or books is None:
        centroids, books = ivfpq_fit(
            df, n_centroids, m, nbits, sample_n,
            vec_col=vec_col, id_col=id_col, seed=seed)
    C = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(books, dtype=np.float64)
    n_centroids, dim = C.shape
    nprobe = min(nprobe, n_centroids)
    mm, _, dsub = books.shape
    sc = df.sparkSession.sparkContext

    if encoded is None:
        encoded = ivfpq_encode(df, C, books, vec_col, id_col)
    # id fields keep the input id column's type (string/int/long ids all
    # round-trip; a hardcoded long would corrupt non-long ids): both
    # sides are cast to it, and the scan gathers ids with pc.take
    enc = encoded.select(F.col(id_col).cast(_idt).alias("neighbor_id"),
                         "cell", "pq_code")
    # The ADC scan's parallelism must come from the CLUSTER, not from
    # however many files the compact codes table happens to occupy: a
    # 200k-row codes.parquet reads as ~3 input splits, serializing a
    # |queries| x |codes| numpy scan into 3 tasks (measured 98s at
    # 2000 x 200k where 32 tasks do it in ~8s). The codes are a few
    # bytes per row, so the round-robin shuffle is trivial next to one
    # serialized scan. Any cell filter the caller pushed into `encoded`
    # sits BELOW this shuffle, so parquet cell pruning still happens at
    # the scan; only the surviving (pruned) rows are spread.
    if enc.rdd.getNumPartitions() < sc.defaultParallelism:
        enc = enc.repartition(sc.defaultParallelism)

    if not qt.num_rows:           # no queries: same schema, no rows
        enc = enc.limit(0)
    qids = qt["query_id"].combine_chunks()
    Q = _unit_rows(qt["_q"], vec_col, dim)
    cent_term = Q @ C.T                                   # (nq, ncent)
    # probe mask: True where query q probes cell c — selected in fp64
    # so probe choice never shifts with the scan dtype; probing every
    # cell needs no mask
    probe = None
    if nprobe < n_centroids:
        order = np.argsort(-cent_term, axis=1)[:, :nprobe]
        probe = np.zeros((len(Q), n_centroids), dtype=bool)
        np.put_along_axis(probe, order, True, axis=1)
    # LUT[q, j, c] = <q_subj, books[j, c]> — built in fp64, downcast
    # once here so fp32 runs gather/accumulate half-width end to end
    _dt = np.float32 if dtype in ("float32", "fp32") else np.float64
    lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), mm, dsub),
                    books).astype(_dt)
    b_lut, b_qids = sc.broadcast(lut), sc.broadcast(qids)
    b_cent, b_probe = sc.broadcast(cent_term.astype(_dt)), sc.broadcast(probe)

    out_schema = T.StructType([
        T.StructField("query_id", _idt),
        T.StructField("neighbor_id", _idt),
        T.StructField("score", T.DoubleType())])

    def _batch_topk(batches):
        L, qa = b_lut.value, b_qids.value
        CT, P = b_cent.value, b_probe.value
        ids = qa.to_numpy(zero_copy_only=False)
        take = max(k, rerank or 0)
        for batch in batches:
            codes = _list_rows(batch.column("pq_code"), "pq_code", mm)
            cells = batch.column("cell").to_numpy()
            nbr = batch.column("neighbor_id")
            nb = nbr.to_numpy(zero_copy_only=False)
            s = CT[:, cells]                 # (nq, rows), a fresh copy
            for j in range(mm):
                s += L[:, j, codes[:, j]]
            # rows outside a query's probed cells never compete —
            # masked BEFORE the local top-take, exactly mirroring the
            # file-level pruning of a cell-partitioned layout
            if P is not None:
                s[~P[:, cells]] = -np.inf
            # self-matches are masked BEFORE the local top-take too: the
            # query's own corpus row would otherwise consume a slot in
            # its batch, silently shrinking the effective shortlist by
            # one vs the (top-`take` excluding self) contract
            s[ids[:, None] == nb[None, :]] = -np.inf
            kk_local = min(take, len(codes))
            top = np.argpartition(-s, kk_local - 1, axis=1)[:, :kk_local]
            # deterministic (score desc, neighbor_id asc) selection at
            # the cut: argpartition breaks score ties arbitrarily, so a
            # tied candidate with the SMALLER id could be dropped here
            # while the global window would have kept it. Repair only
            # the queries whose finite ties straddle the boundary
            # (near-dup corpora hit this constantly — equal codes =>
            # equal ADC).
            v = np.take_along_axis(s, top, axis=1).min(axis=1)
            n_gt = (s > v[:, None]).sum(axis=1)
            n_eq = (s == v[:, None]).sum(axis=1)
            for qi in np.nonzero((n_gt + n_eq > kk_local)
                                 & (v > -np.inf))[0]:
                gti = np.nonzero(s[qi] > v[qi])[0]
                eqi = np.nonzero(s[qi] == v[qi])[0]
                need = kk_local - len(gti)
                keep = eqi[np.argsort(nb[eqi], kind="stable")[:need]]
                top[qi] = np.concatenate([gti, keep])
            sv = np.take_along_axis(s, top, axis=1).ravel()
            # masked (non-probed / self) rows that slipped into a small
            # batch's top-take are dropped here, not emitted as -inf
            keep = np.isfinite(sv)
            yield pa.RecordBatch.from_arrays(
                [pc.take(qa, np.repeat(np.arange(len(ids)), kk_local)[keep]),
                 pc.take(nbr, top.ravel()[keep]),
                 pa.array(sv[keep].astype(np.float64))],
                names=["query_id", "neighbor_id", "score"])

    cand = enc.mapInArrow(_batch_topk, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("neighbor_id"))
    if rerank is None:
        return (cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id",
                        F.round("score", 6).alias("score"), "rank"))
    shortlist = (cand.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= rerank)
                 .select("query_id", "neighbor_id"))
    return _exact_rerank(df, queries, shortlist, k, vec_col, id_col,
                         shortlist_rows=len(qids) * rerank)


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
