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
``joint_spearman``'s ranged form (below), ``pack_sequences``
(pipeline/text.py) and ``token_budget_sample`` (pipeline/sample.py);
``ranged_row_number`` — ``_gen_row_ids`` (core/frame.py);
``grouped_rank_suite`` — the rank_suite query; ``ranged_partition_aggs``
— ``areaUnderROC``. Spearman's M-column ranks use value-derived buckets
instead (``melted_avg_ranks``, ``broadcast_dim_ranks``).
"""
from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

__all__ = ["grouped_rank_suite", "keyed_top_k", "melted_avg_ranks",
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


_BKT = "_rar_bkt"


def melted_avg_ranks(df: DataFrame, cols: list[str],
                     bounds: dict[str, list[float]] | None = None,
                     num_partitions: int | None = None,
                     prefix: str = "_rk_",
                     strata: list[str] | None = None) -> DataFrame:
    """Fractional (average) ranks of SEVERAL numeric columns in ONE wide
    exchange — a per-column loop pays one full-table bucket exchange
    PER column (an M-column spearman matrix = M sequential full
    shuffles, each over a frame one rank-column wider than the last).

    Shape: melt rows to ``(row_id, col_id, value)`` (a projection +
    ``posexplode`` — no shuffle), bucket every melted row against ITS
    column's approx-quantile boundaries (value-derived buckets: every
    plan branch derives the identical bucket for a value and ties always
    share one, so no pid alignment and no dependence on exchange reuse),
    rank all columns under a single ``(col_id, bucket)``-keyed window,
    then pivot ranks back to one row per input row. Exchange count is
    CONSTANT in M: one M·N-row window exchange, one vocabulary-sized
    counts aggregation, one M·N-row pivot-back exchange (vs 2M+…
    growing exchanges for the per-column loop). Total shuffled bytes are ~2× one melt of the ranked columns —
    but the table's OTHER columns never enter any exchange, while the
    per-column loop reshuffles the full accumulating frame every time.

    Returns one row per input row that has at least one non-null ranked
    value: ``(_rid, {prefix}{col}...)`` — rank columns NULL where the
    input value was NULL (the pairwise-skip convention). Rows with every
    ranked value NULL are absent (they contribute nothing to rank
    positions or correlations).

    ``strata``: rank WITHIN each stratum — every window/aggregation key
    gains the strata columns (so the exchange count stays constant in M
    with strata too, vs the old per-column distinct-agg + join-back
    loop: M joins for an M-column stratified spearman). Bucket
    boundaries stay GLOBAL per column — buckets are a parallelism
    device, not a semantic one; correctness comes from the
    (strata, col, bucket) window keys plus per-(strata, col) prefix
    offsets, and a stratum concentrated in few buckets just uses fewer
    tasks. Output gains the strata columns (constant per row id).
    """
    strata = list(strata or [])
    n = int(num_partitions or _shuffle_partitions(df))
    if bounds is None:
        probs = [i / n for i in range(1, n)]
        bs = df.stat.approxQuantile(list(cols), probs,
                                    max(0.25 / n, 1e-4))
        bounds = dict(zip(cols, bs))
    # per-column boundary arrays as ONE nested literal, indexed by col_id
    blit = F.array(*[
        F.array(*[F.lit(float(b)) for b in sorted(set(bounds[c]))])
        for c in cols])
    vals = F.array(*[F.col(c).cast("double") for c in cols])
    # the row id MUST be projected BEFORE the generator — evaluated in
    # the same select as posexplode it runs once per EMITTED row, giving
    # every melted value its own id and breaking the pivot-back
    melted = (df.select(F.monotonically_increasing_id().alias("_rid"),
                        *[F.col(s) for s in strata],
                        vals.alias("_vals"))
              .select("_rid", *strata,
                      F.posexplode("_vals").alias("_cid", "_v"))
              .filter(F.col("_v").isNotNull()))
    arr = F.element_at(blit, F.col("_cid") + 1)
    # NaN sorts greater than every number in Spark, so b < NaN is true
    # for all boundaries -> NaN lands in the LAST bucket and ranks after
    # everything, matching the single-column path
    melted = melted.withColumn(
        _BKT, F.size(F.filter(arr, lambda b: b < F.col("_v"))))
    w_rank = Window.partitionBy(*strata, "_cid", _BKT).orderBy("_v")
    w_ties = w_rank.rangeBetween(Window.currentRow, Window.currentRow)
    local = (melted.withColumn("_lrk", F.rank().over(w_rank))
             .withColumn("_ties", F.count(F.lit(1)).over(w_ties)))
    # counts from the POST-window frame: its required distribution
    # (_cid, bucket) is already satisfied by the window exchange, so this
    # branch adds no exchange of its own and no second source scan —
    # Catalyst prunes the unused rank/tie window exprs and reuses the
    # exchange between the main branch and this broadcast branch
    counts = local.groupBy(*strata, "_cid", _BKT).agg(
        F.count(F.lit(1)).alias("_cnt"))
    # prefix offsets across each column's buckets: <= M x num_partitions
    # rows, keyed by column — bounded by parallelism, not data size
    w_off = (Window.partitionBy(*strata, "_cid").orderBy(_BKT)
             .rowsBetween(Window.unboundedPreceding, -1))
    off = counts.select(
        *strata, "_cid", _BKT,
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"))
    ranked = (local.join(F.broadcast(off),
                         on=strata + ["_cid", _BKT], how="left")
              .withColumn("_r", F.col("_off") + F.col("_lrk")
                          + (F.col("_ties") - 1) / 2.0))
    aggs = ([F.first(s).alias(s) for s in strata]
            + [F.max(F.when(F.col("_cid") == i, F.col("_r")))
               .alias(f"{prefix}{c}") for i, c in enumerate(cols)])
    return ranked.groupBy("_rid").agg(*aggs)


def broadcast_dim_ranks(df: DataFrame, cols: list[str],
                        max_dim_rows: int = 4_000_000) -> DataFrame | None:
    """Fractional (average) ranks via DISTINCT-VALUE rank dimensions —
    the zero-full-table-exchange form, applicable when the ranked
    columns' combined cardinality is bounded.

    A column's average rank is a FUNCTION OF ITS VALUE:
    ``rank(v) = #smaller + (cnt_v + 1) / 2``. So instead of shuffling
    every row through a ranked window and pivoting back (two M·N-row
    exchanges in ``melted_avg_ranks`` — the right shape when
    cardinality ~ rows), build one (column, value, rank) DIM TABLE
    with a map-side-combined distinct aggregation, cumulative-sum it
    over |distinct| rows, and BROADCAST-join it back onto the base
    scan: the data rows never enter an exchange at all, and the
    downstream consumer (a corr aggregate) reduces map-side. Measured
    at sf10 on lineitem (60M rows, 2 columns): 57s melted → see
    SCALE.md round-8.

    Returns the base frame plus ``_rk_{col}`` double columns (NULL
    where the value was NULL — the pairwise-skip convention), or
    ``None`` when the combined dim exceeds ``max_dim_rows`` (truly
    continuous columns at scale): the caller falls back to the melted
    path. The gate is a MEASURED count of the already-needed dim, not
    a guess, so the broadcast can never blow up the driver.

    NaN note: Spark normalizes NaN in groupBy and join keys (NaN
    groups with and joins to NaN) and sorts it after every number, so
    NaN values get the same terminal rank the melted path assigns.
    """
    vals = F.array(*[F.col(c).cast("double") for c in cols])
    dims = (df.select(F.posexplode(vals).alias("_cid", "_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy("_cid", "_v")
            .agg(F.count(F.lit(1)).alias("_cnt")))
    # the gate's count and the broadcast joins read ONE materialization
    dims = dims.localCheckpoint(eager=False)
    if dims.count() > max_dim_rows:
        return None
    # rank(v) = #smaller + (cnt_v + 1)/2 — cumulative window over the
    # |distinct| dim rows only (per column, so a 4M-row worst case)
    w = (Window.partitionBy("_cid").orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = dims.withColumn(
        "_r", F.coalesce(F.sum("_cnt").over(w), F.lit(0))
        + (F.col("_cnt") + 1) / 2.0)
    out = df
    for i, c in enumerate(cols):
        dim_c = F.broadcast(
            ranked.filter(F.col("_cid") == i)
            .select(F.col("_v").alias(f"_dv_{i}"),
                    F.col("_r").alias(f"_rk_{c}")))
        out = (out.join(dim_c,
                        F.col(c).cast("double") == F.col(f"_dv_{i}"),
                        "left")
               .drop(f"_dv_{i}"))
    return out


#: Joint-table row count at or below which ``joint_spearman`` ranks
#: with range-frame windows directly on the joint rows instead of the
#: ranged form (melted dims + grouped ``ranged_cumsum``). A
#: single-partition window is allowed here, as in the exact-quantile
#: family's ``agg._quantile_row``, because its input is the aggregated
#: joint table, never raw rows.
COMPACT_SPEARMAN_MAX_JOINT = 1_000_000

#: Joint cardinality above which ``joint_spearman`` declines: both
#: columns are near-unique, the joint table is corpus-sized, and the
#: caller's rank paths cost no more. Probed (HLL) only when the input
#: has more rows than this, since ``|joint| <= rows``.
SPEARMAN_MAX_JOINT = 32_000_000


def joint_spearman(df: DataFrame, cols: list[str],
                   nrows: int) -> DataFrame | None:
    """Spearman correlation of TWO columns from their joint frequency
    table ``g = groupBy(x, y).count()`` — the ONLY corpus-sized exchange
    (one count buffer per group), with no per-row rank attachment:
    ``broadcast_dim_ranks`` + ``F.corr`` instead probes a value-sized
    broadcast relation twice per row.

    ``nrows`` is the caller's row count of ``df``; ``|joint| <= nrows``
    decides what must be measured. Above ``SPEARMAN_MAX_JOINT`` rows an
    HLL probe of ``struct(x, y)`` returns ``None`` for a near-unique
    pair (the caller falls back). At most ``COMPACT_SPEARMAN_MAX_JOINT``
    rows take the compact form FULLY LAZY; otherwise ``g`` is eagerly
    ``localCheckpoint``'d and its measured count picks compact or
    ranged.

    Compact form: average ranks attached to the joint rows by
    range-frame windows, ``rank(v) = S - (E - 1)/2`` centered by
    ``(N + 1)/2``, where S is the count-weighted prefix INCLUSIVE of the
    tie group (range frame to ``currentRow``), E the tie group's count
    and N the column's non-null total — one window sort per column.
    Ranged form: melted dims + grouped ``ranged_cumsum`` + shuffle rank
    joins, so a large joint table never funnels into one task.

    Semantics match the fused rank-then-``F.corr`` paths: each column
    ranks over its own non-null rows, NaN is one terminal tie group
    (Spark's total order; groupBy normalizes it), ranks are centered
    before the sums so they don't cancel at scale, and corr runs over
    pairwise-complete rows. A diagonal is 1.0 exactly when its column
    has >= 2 rows and ``sum(c * r^2) > 0`` — exactly zero for a single
    distinct value (every centered rank is 0), and a sum of
    non-negative terms cannot cancel otherwise.

    Returns the 3-row long-form matrix ``(col_x, col_y, corr)`` in
    ``[(x,x), (x,y), (y,y)]`` order (NULL where the denominator is
    zero), or ``None`` for non-pair inputs and near-unique pairs."""
    if len(cols) != 2 or cols[0] == cols[1]:
        return None
    cx, cy = cols
    x, y = F.col(cx).cast("double"), F.col(cy).cast("double")
    if nrows > SPEARMAN_MAX_JOINT:
        dxy = df.agg(F.approx_count_distinct(F.struct(x, y))).first()[0]
        if dxy > SPEARMAN_MAX_JOINT:
            return None
    g = (df.filter(x.isNotNull() | y.isNotNull())
         .groupBy(x.alias("_x"), y.alias("_y"))
         .agg(F.count(F.lit(1)).alias("_c")))
    if nrows <= COMPACT_SPEARMAN_MAX_JOINT:
        compact = True       # |joint| <= rows: provably small, stay lazy
    else:
        g = g.localCheckpoint(eager=True)
        compact = g.count() <= COMPACT_SPEARMAN_MAX_JOINT  # cached count

    if compact:
        def rank_over(frame: DataFrame, key: str, alias: str) -> DataFrame:
            w = Window.orderBy(key)
            cnt = F.when(F.col(key).isNotNull(), F.col("_c"))
            s = F.sum(cnt).over(w.rangeBetween(Window.unboundedPreceding,
                                               Window.currentRow))
            e = F.sum(cnt).over(w.rangeBetween(Window.currentRow,
                                               Window.currentRow))
            n_ = F.sum(cnt).over(w.rangeBetween(Window.unboundedPreceding,
                                                Window.unboundedFollowing))
            r = F.when(F.col(key).isNotNull(),
                       s - (e - 1) / 2.0 - (n_ + 1) / 2.0)
            return frame.select("*", r.alias(alias))

        ranked = rank_over(rank_over(g, "_x", "_rx"), "_y", "_ry")
    else:
        # ranged form: ONE melted dim subtree for both columns (a
        # single groupBy over 2|joint| melted rows; posexplode keeps
        # each non-null side, so each marginal still includes rows the
        # other column would drop), distributed cumsum, shuffle joins
        # back
        melted = (g.select(F.posexplode(F.array("_x", "_y"))
                           .alias("_cid", "_v"), "_c")
                  .filter(F.col("_v").isNotNull()))
        dims = melted.groupBy("_cid", "_v").agg(F.sum("_c").alias("_k"))
        cum = ranged_cumsum(dims, ["_v"], ["_k"], ["_cid"])
        r = (F.col("_cum__k") - (F.col("_k") - 1) / 2.0
             - (F.col("_n__k") + 1) / 2.0)
        rdim = cum.select("_cid", "_v", r.alias("_r"))
        xr = (rdim.filter(F.col("_cid") == 0)
              .select(F.col("_v").alias("_xv"), F.col("_r").alias("_rx")))
        yr = (rdim.filter(F.col("_cid") == 1)
              .select(F.col("_v").alias("_yv"), F.col("_r").alias("_ry")))
        ranked = (g.join(xr, F.col("_x").eqNullSafe(F.col("_xv")), "left")
                  .join(yr, F.col("_y").eqNullSafe(F.col("_yv")), "left")
                  .select("_x", "_y", "_c", "_rx", "_ry"))

    c = F.col("_c")
    cx_ = F.when(F.col("_x").isNotNull(), c)
    cy_ = F.when(F.col("_y").isNotNull(), c)
    cb = F.when(F.col("_x").isNotNull() & F.col("_y").isNotNull(), c)
    res = ranked.agg(
        F.sum(cb).alias("n"),
        F.sum(cb * F.col("_rx")).alias("sx"),
        F.sum(cb * F.col("_rx") * F.col("_rx")).alias("sxx"),
        F.sum(cb * F.col("_ry")).alias("sy"),
        F.sum(cb * F.col("_ry") * F.col("_ry")).alias("syy"),
        F.sum(cb * F.col("_rx") * F.col("_ry")).alias("sxy"),
        F.sum(cx_).alias("nx"),
        F.sum(cx_ * F.col("_rx") * F.col("_rx")).alias("dx"),
        F.sum(cy_).alias("ny"),
        F.sum(cy_ * F.col("_ry") * F.col("_ry")).alias("dy"))
    n = F.col("n")
    num = F.col("sxy") - F.col("sx") * F.col("sy") / n
    den2 = ((F.col("sxx") - F.col("sx") * F.col("sx") / n)
            * (F.col("syy") - F.col("sy") * F.col("sy") / n))
    corr_xy = F.when((n >= 2) & (den2 > 0), num / F.sqrt(den2))
    diag_x = F.when((F.col("nx") >= 2) & (F.col("dx") > 0), F.lit(1.0))
    diag_y = F.when((F.col("ny") >= 2) & (F.col("dy") > 0), F.lit(1.0))
    return res.select(F.stack(
        F.lit(3),
        F.lit(cx), F.lit(cx), diag_x,
        F.lit(cx), F.lit(cy), corr_xy,
        F.lit(cy), F.lit(cy), diag_y).alias("col_x", "col_y", "corr"))


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
