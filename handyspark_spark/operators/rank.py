"""Distributed two-pass ranking / cumulative aggregation.

The standard fix for the global-``Window.orderBy`` anti-pattern: a window
with no ``partitionBy`` funnels EVERY row into one task, so for a
continuous column (|distinct| ~ |rows|) the whole dataset lands on a
single executor core. The reference ran its running quantities that way
(the ROC/PR curve, the KS ECDF, ``_gen_row_ids``). Here they share ONE
private core, ``_ranged_prefix``:

1. ``repartitionByRange`` on ``(group, order)`` — ONE range exchange
   (the same exchange a global sort needs, but the result stays N-way
   parallel, and a big group SPANS partitions). RangePartitioner gives
   partition ``i`` the i-th key range in sort order and maps equal keys
   to the same partition, so ``spark_partition_id()`` is monotone in the
   global order and ties never straddle partitions. The tagged frame is
   pinned by a lazy ``localCheckpoint``, so both branches below read one
   materialized partitioning.
2. The caller's windows per ``(pid, group)`` — parallel, no further
   shuffle.
3. The caller's totals per ``(pid, group)``; over that tiny table
   (partitions x boundary-spanning groups rows) each total becomes an
   exclusive prefix offset and a group total, broadcast-joined back.

``ranged_cumsum`` (running sums + group totals), ``ranged_row_number``
and ``grouped_rank_suite`` are thin wrappers over it. A caller that only
needs an aggregate over the running sums (an area under a curve) skips
step 3: ``ranged_partition_aggs`` reduces each range partition to one
row in a single-branch plan and the driver applies the offsets.

Callers: ``ranged_cumsum`` — the ROC/PR curve (ml/evaluation.py), the KS
ECDF and ``ks_2samp`` (operators/stats.py), exact distributed
percentiles and quantile normalization (operators/agg.py),
``pack_sequences`` (pipeline/text.py) and ``token_budget_sample``
(pipeline/sample.py); ``ranged_row_number`` — ``_gen_row_ids``
(core/frame.py); ``grouped_rank_suite`` — the rank_suite query;
``ranged_partition_aggs`` — ``areaUnderROC``. Spearman ranks need none
of them: ``joint_spearman`` ranks the rows of the joint frequency
table, an aggregate, never the data rows.
"""
from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

__all__ = ["grouped_rank_suite", "joint_spearman", "keyed_top_k",
           "ntile_expr", "ranged_cumsum", "ranged_partition_aggs",
           "ranged_row_number"]

_PID = "_rcs_pid"


def _order_exprs(order_by) -> list[Column]:
    return [F.col(o) if isinstance(o, str) else o for o in order_by]


def _shuffle_partitions(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "200"))


def _range_tagged(df: DataFrame, exprs: list[Column]) -> DataFrame:
    """Step 1: ``df`` range-partitioned on ``exprs`` with every row
    tagged by its partition id (monotone in the order; ties never
    straddle partitions)."""
    return (df.repartitionByRange(_shuffle_partitions(df), *exprs)
              .withColumn(_PID, F.spark_partition_id()))


def _running(w: WindowSpec, value_cols: list[str]) -> list[Column]:
    """Inclusive running sums ``_loc_{c}`` of ``value_cols`` under the
    ordered window ``w``."""
    w = w.rowsBetween(Window.unboundedPreceding, 0)
    return [F.sum(c).over(w).alias(f"_loc_{c}") for c in value_cols]


def _ranged_prefix(df: DataFrame, group_cols: Sequence[str],
                   order_by: list,
                   local: Callable[[WindowSpec], list[Column]],
                   totals: list[Column]) -> DataFrame:
    """The one two-pass plan (module docstring, steps 1-3). ``local(w)``
    returns the window columns to add, where ``w`` is the ordered
    per-``(pid, group)`` window; each aliased aggregate ``t`` in
    ``totals`` comes back as the group total ``t`` plus ``_off{t}``, its
    sum over the group's preceding range partitions."""
    group_cols = list(group_cols)
    oexprs = _order_exprs(order_by)
    # the lazy localCheckpoint pins ONE materialized range partitioning
    # for the window branch and the totals branch: unpinned, the two
    # branches are column-pruned differently on wide frames, their
    # range exchanges stop being canonically equal and each samples its
    # OWN boundaries, silently misaligning pids. It also stops each
    # branch (and the sampling pass) replaying the upstream plan.
    d = (_range_tagged(df, [F.col(g) for g in group_cols] + oexprs)
         .localCheckpoint(eager=False))
    w = Window.partitionBy(_PID, *group_cols).orderBy(*oexprs)
    tot = d.groupBy(_PID, *group_cols).agg(*totals)
    names = tot.columns[len(group_cols) + 1:]
    w_off = (Window.partitionBy(*group_cols).orderBy(_PID)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy(*group_cols)
    off = tot.select(
        _PID, *group_cols,
        *[F.coalesce(F.sum(t).over(w_off), F.lit(0)).alias(f"_off{t}")
          for t in names],
        *[F.sum(t).over(w_all).alias(t) for t in names])
    return (d.select("*", *local(w))
            .join(F.broadcast(off), on=[_PID, *group_cols], how="left")
            .drop(_PID))


def ranged_partition_aggs(df: DataFrame, order_by: list,
                          value_cols: list[str],
                          aggs: list[Column]) -> DataFrame:
    """Steps 1-2 of ``ranged_cumsum`` in ONE branch, reduced to one row
    per range partition: ``aggs`` may read the input columns and the
    partition-local running sums ``_loc_{c}`` of ``value_cols``.

    The first output column is the partition id; the collected rows
    (``spark.sql.shuffle.partitions`` at most, empty partitions absent)
    sorted by it are in ``order_by`` order. A caller combines them on
    the driver with the prefix offsets of step 3 — the global running
    sum at a row is its local one plus the sum of its partition's
    predecessors' totals. One branch means one range exchange: no pid
    alignment to protect, so no checkpoint and no totals join.
    """
    exprs = _order_exprs(order_by)
    w = Window.partitionBy(_PID).orderBy(*exprs)
    return (_range_tagged(df, exprs).select("*", *_running(w, value_cols))
            .groupBy(_PID).agg(*aggs))


def ranged_cumsum(df: DataFrame, order_by: list, value_cols: list[str],
                  group_cols: Sequence[str] = ()) -> DataFrame:
    """Cumulative sums of ``value_cols`` over the total order
    ``order_by`` (column names or Column sort expressions, e.g.
    ``[F.col("score").desc()]``) — per ``group_cols`` group when given,
    else global — without a single-partition or per-group window (a
    group holding 90% of the rows still spans many tasks).

    Returns the input rows plus, for each value column ``c``,
    ``_cum_{c}`` (the running total, inclusive of the current row) and
    ``_n_{c}`` (the group's total, the grand total without groups)."""
    out = _ranged_prefix(df, group_cols, order_by,
                         lambda w: _running(w, value_cols),
                         [F.sum(c).alias(f"_n_{c}") for c in value_cols])
    return (out.withColumns({f"_cum_{c}": F.col(f"_loc_{c}")
                             + F.col(f"_off_n_{c}") for c in value_cols})
            .drop(*[f"_loc_{c}" for c in value_cols],
                  *[f"_off_n_{c}" for c in value_cols]))


def ranged_row_number(df: DataFrame, order_by: list,
                      name: str = "_row_id") -> DataFrame:
    """Global 0-based row numbers over ``order_by`` — the distributed
    ``row_number``: a local row number plus the preceding partitions'
    row count. Ties are numbered arbitrarily-but-deterministically
    within their range partition, same contract as the global window
    form."""
    out = _ranged_prefix(df, (), order_by,
                         lambda w: [F.row_number().over(w).alias("_lrn")],
                         [F.count(F.lit(1)).alias("_cnt")])
    return (out.withColumn(name, F.col("_lrn") + F.col("_off_cnt") - 1)
            .drop("_lrn", "_cnt", "_off_cnt"))


def joint_spearman(df: DataFrame, cols: list[str],
                   strata: Sequence[str] = (),
                   pairwise: bool = False) -> DataFrame:
    """Spearman correlation matrix of ``cols`` (per ``strata`` group
    when given) from their joint frequency table
    ``g = groupBy(*strata, *cols).count()`` — the ONLY corpus-sized
    exchange (one count buffer per group); no rank is ever attached to
    a data row.

    1. Ranks on ``g``'s rows: one range-frame window per column,
       partitioned by the strata, ``rank(v) = S - (E - 1)/2`` centered
       by ``(N + 1)/2`` (S the count-weighted prefix INCLUSIVE of the
       tie group, E the tie group's count, N the column's non-null
       total). Without strata the window runs in one task, as in
       ``agg._quantile_row``: its input is the aggregated table, never
       raw rows.
    2. One ``groupBy(*strata)`` aggregate of count-weighted centered
       co-moments over pairwise-complete rows for every pair; it reuses
       the window's partitioning, so the plan has two exchanges for any
       M, with or without strata.

    Each column ranks over its own non-null rows, NaN is one terminal
    tie group (Spark's total order; groupBy normalizes it), and ranks
    are centered before the sums so they don't cancel at scale. With
    ``pairwise`` column i instead ranks, per partner j, over the rows
    where both are non-null (pandas' ``corr(method='spearman')``): the
    masks differ, the window spec does not, so it is still one sort per
    column. A corr is NULL where its pair has < 2 rows or a zero
    denominator; a diagonal is 1.0 exactly when its column holds >= 2
    distinct values (a nonzero rank variance), else NULL.

    Returns the long-form matrix ``(*strata, col_x, col_y, corr)``, the
    pairs ``(i, j >= i)`` in ``cols`` order."""
    strata = list(strata)
    m = len(cols)
    v = [F.col(f"_v{i}") for i in range(m)]
    g = df.groupBy(*strata, *[F.col(c).cast("double").alias(f"_v{i}")
                              for i, c in enumerate(cols)]) \
        .agg(F.count(F.lit(1)).alias("_c"))

    def both(i, j):
        return v[i].isNotNull() & v[j].isNotNull()

    def rank(i, mask):
        w = Window.partitionBy(*strata).orderBy(v[i])
        cnt = F.when(mask, F.col("_c"))
        s = F.sum(cnt).over(w.rangeBetween(Window.unboundedPreceding,
                                           Window.currentRow))
        e = F.sum(cnt).over(w.rangeBetween(Window.currentRow,
                                           Window.currentRow))
        n = F.sum(cnt).over(w.rangeBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing))
        return F.when(mask, s - (e - 1) / 2.0 - (n + 1) / 2.0)

    def name(i, j):   # column i's rank column when paired with j
        return f"_r{i}_{j}" if pairwise else f"_r{i}"

    owner = {name(i, j): (i, j) for i in range(m) for j in range(m) if i != j}
    ranked = g.withColumns({
        k: rank(i, both(i, j) if pairwise else v[i].isNotNull())
        for k, (i, j) in owner.items()})

    def cell(i, j):
        if i == j:
            return F.when(F.min(v[i]) < F.max(v[i]), F.lit(1.0))
        cb = F.when(both(i, j), F.col("_c"))
        x, y = F.col(name(i, j)), F.col(name(j, i))
        n = F.sum(cb)
        sx, sy = F.sum(cb * x), F.sum(cb * y)
        num = F.sum(cb * x * y) - sx * sy / n
        den2 = ((F.sum(cb * x * x) - sx * sx / n)
                * (F.sum(cb * y * y) - sy * sy / n))
        return F.when((n >= 2) & (den2 > 0), num / F.sqrt(den2))

    pairs = [(i, j) for i in range(m) for j in range(i, m)]
    res = ranked.groupBy(*strata).agg(
        *[cell(i, j).alias(f"_p{k}") for k, (i, j) in enumerate(pairs)])
    return res.select(*strata, F.stack(
        F.lit(len(pairs)),
        *[e for k, (i, j) in enumerate(pairs)
          for e in (F.lit(cols[i]), F.lit(cols[j]), F.col(f"_p{k}"))])
        .alias("col_x", "col_y", "corr"))


def keyed_top_k(df: DataFrame, key_cols: list[str], order_by: list,
                k: int, salt_col: str | Column | None = None,
                n_salts: int = 32) -> DataFrame:
    """The first ``k`` rows per key under the total order ``order_by``
    (column names or Column sort expressions — include a unique
    tie-breaker for determinism), WITHOUT a single-task-per-key window:
    ``row_number() OVER (PARTITION BY key)`` funnels each key's entire
    row set into one task, so a 20-value source column caps a corpus
    scan at 20 tasks. Standard salted two-phase top-k instead:

    1. per-``(key, salt)`` local top-k — the corpus-sized window is
       keyed by ``n_salts`` × |keys| partitions, arbitrarily parallel;
    2. global top-k over the ≤ ``n_salts``·``k`` survivors per key.

    Selection is by the total order, so the result is IDENTICAL to the
    single-window form (salting is an execution strategy, not a
    semantic one) — oracles mirror it with one plain QUALIFY.

    ``salt_col``: deterministic per-row salt source (hashed; defaults
    to the first order-by column name if it is a plain string —
    pass an id column when ordering by computed expressions)."""
    exprs = _order_exprs(order_by)
    if salt_col is None:
        first = order_by[0]
        if not isinstance(first, str):
            raise ValueError("keyed_top_k: pass salt_col when order_by "
                             "starts with a computed expression")
        salt_col = first
    s = F.col(salt_col) if isinstance(salt_col, str) else salt_col
    w1 = Window.partitionBy(*key_cols, "_ktk_salt").orderBy(*exprs)
    local = (df.withColumn("_ktk_salt",
                           F.pmod(F.xxhash64(s), F.lit(n_salts)))
             .withColumn("_ktk_r", F.row_number().over(w1))
             .filter(F.col("_ktk_r") <= k))
    w2 = Window.partitionBy(*key_cols).orderBy(*exprs)
    return (local.withColumn("_ktk_r2", F.row_number().over(w2))
            .filter(F.col("_ktk_r2") <= k)
            .drop("_ktk_salt", "_ktk_r", "_ktk_r2"))


def ntile_expr(rn: Column, n: Column, k: int) -> Column:
    """SQL ``NTILE(k)`` from a 1-based row number ``rn`` and the group
    size ``n`` — closed form, no window: the first ``n % k`` tiles hold
    ``ceil(n/k)`` rows, the rest ``floor(n/k)`` (the standard NTILE
    contract, identical in Spark and DuckDB). Lets callers attach tiles
    from distributed row numbers instead of a keyed NTILE window."""
    q = F.floor(n / k)
    rem = n % k
    big = q + 1
    cut = rem * big
    return (F.when(rn <= cut, F.floor((rn - 1) / big) + 1)
            # guard: q can be 0 only when n < k, and then EVERY row has
            # rn <= cut = n, so this branch never evaluates with q = 0 —
            # greatest() just keeps the divisor non-zero for codegen
            .otherwise(rem + F.floor((rn - cut - 1)
                                     / F.greatest(q, F.lit(1))) + 1))


def grouped_rank_suite(df: DataFrame, group_cols: list[str],
                       order_cols: list[str]) -> DataFrame:
    """The per-group ranking family (row_number / rank / dense_rank /
    peer counts / group sizes) WITHOUT a per-group window — the
    distributed fix for ``Window.partitionBy(low_cardinality_key)``,
    which caps parallelism at |distinct keys| tasks no matter how big
    the cluster is (a 3-value status column = 3 tasks for the whole
    dataset).

    ``_ranged_prefix`` over ``(group_cols, order_cols)``: a big group
    SPANS range partitions, and order-tuple TIES never straddle one, so
    the local row_number / rank / dense_rank / peer count (one shared
    sort) stay exact once offset by the preceding partitions' row count
    and distinct-tuple count (``countDistinct(struct(order_cols))`` —
    struct, so tuples containing NULLs still count).

    Adds columns: ``_rn`` (row_number), ``_rank``, ``_dense_rank``,
    ``_peers`` (rows tied with this one on the full order tuple),
    ``_n`` (group size). Derive the rest closed-form:
    ``percent_rank = (_rank-1)/(_n-1)``, ``cume_dist =
    (_rank+_peers-1)/_n``, ``ntile = ntile_expr(_rn, _n, k)``.

    Order columns are ascending with Spark's NULLS FIRST; callers
    aligning with engines that default NULLS LAST must pre-filter or
    flip nulls explicitly."""
    oexprs = [F.col(c) for c in order_cols]

    def local(w):
        # peers = COUNT over the RANGE frame (current row, current row) =
        # rows equal on the whole order tuple; shares w's exchange and sort
        w_peers = w.rangeBetween(Window.currentRow, Window.currentRow)
        return [F.row_number().over(w).alias("_lrn"),
                F.rank().over(w).alias("_lrk"),
                F.dense_rank().over(w).alias("_ldr"),
                F.count(F.lit(1)).over(w_peers).alias("_peers")]

    out = _ranged_prefix(df, group_cols, oexprs, local,
                         [F.count(F.lit(1)).alias("_n"),
                          F.countDistinct(F.struct(*oexprs)).alias("_dn")])
    return (out.withColumns({"_rn": F.col("_lrn") + F.col("_off_n"),
                             "_rank": F.col("_lrk") + F.col("_off_n"),
                             "_dense_rank": F.col("_ldr") + F.col("_off_dn")})
            .drop("_lrn", "_lrk", "_ldr", "_off_n", "_off_dn", "_dn"))
