"""Distributed two-pass ranking / cumulative aggregation.

The standard fix for the global-``Window.orderBy`` anti-pattern: a window
with no ``partitionBy`` funnels EVERY row into one task, so for a
continuous column (|distinct| ~ |rows|) the whole dataset lands on a
single executor core. The distributed equivalent is partition-offset
ranking:

1. ``repartitionByRange`` on the ordering — ONE range exchange (the same
   exchange a global sort needs, but the result stays N-way parallel).
   RangePartitioner gives partition ``i`` the i-th key range in sort
   order and maps equal keys to the same partition, so
   ``spark_partition_id()`` is monotone in the global order and ties
   never straddle partitions.
2. Cumulative sums *within* each partition under
   ``Window.partitionBy(pid)`` — parallel, no further shuffle.
3. Per-partition totals -> prefix offsets via a window over the (tiny,
   ``num_partitions``-row) totals table, broadcast-joined back on pid.

Everything stays lazy in ONE query, so Catalyst's ReuseExchange dedupes
the range exchange between the cumsum branch and the totals branch —
callers pay one wide shuffle total. A caller that only needs an
aggregate over the running sums (e.g. an area under a curve) skips step
3's join: ``ranged_partition_aggs`` reduces each range partition to one
row in the plan and the driver applies the offsets to those rows. Used
by spearman ranks
(operators/agg.py), BinaryClassificationMetrics (ml/evaluation.py), the
KS ECDF (operators/stats.py) and ``_gen_row_ids`` (core/frame.py); see
VERDICT r1 "unpartitioned-window family".
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["grouped_ranged_cumsum", "grouped_rank_suite", "keyed_top_k",
           "melted_avg_ranks", "ntile_expr", "ranged_avg_rank",
           "ranged_cumsum", "ranged_partition_aggs", "ranged_row_number"]

_PID = "_rcs_pid"


def _order_exprs(order_by) -> list[Column]:
    out = []
    for o in order_by:
        out.append(F.col(o) if isinstance(o, str) else o)
    return out


def _num_partitions(df: DataFrame, num_partitions: int | None) -> int:
    if num_partitions:
        return int(num_partitions)
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "200"))


def _range_tagged(df: DataFrame, exprs: list[Column], n: int) -> DataFrame:
    """Step 1: ``df`` range-partitioned on ``exprs`` with every row
    tagged by its partition id (monotone in the order; ties never
    straddle partitions)."""
    return (df.repartitionByRange(n, *exprs)
              .withColumn(_PID, F.spark_partition_id()))


def _local_cumsums(d: DataFrame, exprs: list[Column], value_cols: list[str],
                   prefix: str) -> DataFrame:
    """Step 2: running sums ``{prefix}{c}`` (inclusive) of ``value_cols``
    inside each range partition of a ``_range_tagged`` frame."""
    w_in = (Window.partitionBy(_PID).orderBy(*exprs)
            .rowsBetween(Window.unboundedPreceding, 0))
    return d.select("*", *[F.sum(c).over(w_in).alias(f"{prefix}{c}")
                           for c in value_cols])


def ranged_partition_aggs(df: DataFrame, order_by: list,
                          value_cols: list[str], aggs: list[Column],
                          num_partitions: int | None = None,
                          prefix: str = "_loc_") -> DataFrame:
    """Steps 1-2 of ``ranged_cumsum`` in ONE branch, reduced to one row
    per range partition: ``aggs`` may read the input columns and the
    partition-local running sums ``{prefix}{c}`` of ``value_cols``.

    The first output column is the partition id; the collected rows
    (``num_partitions`` at most, empty partitions absent) sorted by it
    are in ``order_by`` order. A caller combines them on the driver with
    the prefix offsets of step 3 — the global running sum at a row is
    its local one plus the sum of its partition's predecessors' totals.
    One branch means one range exchange: no pid alignment to protect, so
    no checkpoint and no totals join.
    """
    exprs = _order_exprs(order_by)
    d = _range_tagged(df, exprs, _num_partitions(df, num_partitions))
    return (_local_cumsums(d, exprs, value_cols, prefix)
            .groupBy(_PID).agg(*aggs))


def ranged_cumsum(df: DataFrame, order_by: list, value_cols: list[str],
                  num_partitions: int | None = None,
                  prefix: str = "_cum_",
                  pin: bool = True) -> tuple[DataFrame, DataFrame]:
    """Global cumulative sums of ``value_cols`` over the total order
    ``order_by`` (list of column names or Column sort expressions, e.g.
    ``[F.col("score").desc()]``), without a single-partition window.

    Returns ``(cum, ptot)``:

    - ``cum``: the input rows (plus ``{prefix}{col}`` running-total
      columns, inclusive of the current row) — order-preserving w.r.t.
      ``order_by`` within each range partition.
    - ``ptot``: one row per value col of GRAND totals is derivable via
      ``ptot.agg(F.sum(...))``; shape is ``num_partitions`` rows of
      per-partition sums. Callers that need totals as columns can
      ``crossJoin(F.broadcast(ptot.agg(...)))`` — the range exchange is
      shared with ``cum``'s, so the extra branch re-reads shuffle output,
      not the source.

    INVARIANT (callers): ``df`` must carry ONLY the order + value columns.
    Exchange reuse between the two branches relies on their canonicalized
    plans being equal; extra columns get pruned from the totals branch
    but not the cumsum branch, the exchanges diverge, and each samples
    its own range boundaries — misaligning pids between branches. All
    in-repo callers pass pre-aggregated (key, counts) frames. For wide
    frames use ``ranged_row_number`` (checkpoint-pinned) or
    ``ranged_avg_rank`` (value-derived buckets) instead.
    """
    exprs = _order_exprs(order_by)
    n = _num_partitions(df, num_partitions)
    # lazy localCheckpoint pins ONE materialized range partitioning shared
    # by the cumsum and totals branches. Besides guaranteeing pid
    # alignment without leaning on exchange reuse, it stops the branches
    # AND the RangePartitioner sampling pass from each replaying the whole
    # upstream plan — for a curve built over an expensive scan (e.g.
    # metrics scores extracted from a wide array column) the upstream now
    # runs twice (sample + exchange) instead of 4x.
    d = _range_tagged(df, exprs, n)
    if pin:
        # the checkpoint swaps the SQL subplan for a LogicalRDD, so the
        # range exchange stops being visible in downstream plan strings;
        # pin=False keeps the plain plan for tests/plan inspection (at
        # the cost of branch replay + reuse-dependent pid alignment)
        d = d.localCheckpoint(eager=False)

    local = f"{prefix}_local_"
    cum = _local_cumsums(d, exprs, value_cols, local)

    ptot = d.groupBy(_PID).agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in value_cols])
    # offsets: window over num_partitions rows — bounded by cluster
    # parallelism (thousands), not data size; single-partition here is fine
    w_off = (Window.orderBy(_PID)
             .rowsBetween(Window.unboundedPreceding, -1))
    off = ptot.select(
        _PID, *[F.coalesce(F.sum(f"_tot_{c}").over(w_off), F.lit(0))
                .alias(f"_off_{c}") for c in value_cols])

    out = cum.join(F.broadcast(off), on=_PID, how="left")
    for c in value_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.col(f"{local}{c}") + F.col(f"_off_{c}"))
    drop = [_PID] + [f"{local}{c}" for c in value_cols] \
        + [f"_off_{c}" for c in value_cols]
    return out.drop(*drop), ptot.drop(_PID)


def ranged_row_number(df: DataFrame, order_by: list,
                      name: str = "_row_id", start: int = 0,
                      num_partitions: int | None = None) -> DataFrame:
    """Global 0-based (by default) row numbers over ``order_by`` — the
    distributed ``row_number`` (per-partition row_number + broadcast
    prefix counts). Ties are numbered arbitrarily-but-deterministically
    within their range partition, same contract as the global window
    form."""
    exprs = _order_exprs(order_by)
    n = _num_partitions(df, num_partitions)
    # lazy localCheckpoint pins ONE materialized range partitioning for
    # both the row-number branch and the counts branch: on wide frames
    # the branches are column-pruned differently, the range exchanges
    # stop being canonically equal, and each would sample its OWN
    # boundaries — silently misaligning pids between ranks and offsets
    d = (df.repartitionByRange(n, *exprs)
           .withColumn(_PID, F.spark_partition_id())
           .localCheckpoint(eager=False))
    w_in = Window.partitionBy(_PID).orderBy(*exprs)
    local = d.withColumn("_rn_local", F.row_number().over(w_in))
    counts = d.groupBy(_PID).agg(F.count(F.lit(1)).alias("_cnt"))
    w_off = (Window.orderBy(_PID)
             .rowsBetween(Window.unboundedPreceding, -1))
    off = counts.select(
        _PID, F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"))
    out = (local.join(F.broadcast(off), on=_PID, how="left")
           .withColumn(name,
                       F.col("_rn_local") + F.col("_off") - F.lit(1 - start))
           .drop(_PID, "_rn_local", "_off"))
    return out


_BKT = "_rar_bkt"


def ranged_avg_rank(df: DataFrame, col: str, name: str,
                    num_partitions: int | None = None,
                    bounds: list[float] | None = None) -> DataFrame:
    """Fractional (average) ranks of a NUMERIC ``col`` attached to every
    ROW — `scipy.stats.rankdata(method='average')` semantics, distributed.

    Unlike ranking the distinct values and joining them back (a full
    sort-merge join when |distinct| ~ |rows|, e.g. continuous columns),
    this ranks rows in place. And unlike ``repartitionByRange``-based
    two-branch plans, the bucket id is COMPUTED FROM THE VALUE against
    approx-quantile boundaries fetched once up front — every plan branch
    derives the identical bucket for a row, so there is no dependence on
    exchange reuse. (RangePartitioner samples boundaries per exchange;
    when Catalyst prunes the two branches to different column sets the
    exchanges stop being reusable and the sampled pids silently diverge
    between the rank branch and the offsets branch — observed as
    nondeterministic ranks on wide frames.)

    Cost: one approxQuantile pass (driver fetches ``num_partitions - 1``
    doubles), one wide hash exchange for the bucket-keyed window, one
    vocabulary-sized counts aggregation, one broadcast join. Rank VALUES
    are boundary-invariant: ties always share a bucket (bucket is a
    function of the value), so average ranks are exact regardless of how
    balanced the sampled boundaries are.

    NULLs get a NULL rank and do not occupy rank positions.

    ``bounds``: precomputed boundary values (callers ranking several
    columns batch ONE ``approxQuantile([cols...])`` pass instead of one
    job per column)."""
    c = F.col(col)
    n = _num_partitions(df, num_partitions)
    if bounds is None:
        probs = [i / n for i in range(1, n)]
        bounds = df.stat.approxQuantile(col, probs, max(0.25 / n, 1e-4))
    uniq = sorted(set(bounds))
    if uniq:
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        bkt = F.size(F.filter(arr, lambda b: b < c.cast("double")))
    else:  # empty / all-null column — single bucket
        bkt = F.lit(0)
    d = df.withColumn(_BKT,
                      F.when(c.isNull(), F.lit(-1)).otherwise(bkt))
    w_rank = Window.partitionBy(_BKT).orderBy(c)
    # tie count as the PEER count of the same sorted window (range frame
    # (0,0) = rows equal in the order value): shares w_rank's exchange
    # and sort — a partitionBy(_BKT, c) window would add a second hash
    # exchange of the full data per ranked column
    w_ties = w_rank.rangeBetween(Window.currentRow, Window.currentRow)
    local = (d.withColumn("_lrk", F.rank().over(w_rank))
              .withColumn("_ties", F.count(F.lit(1)).over(w_ties)))
    counts = (d.filter(c.isNotNull())
              .groupBy(_BKT).agg(F.count(F.lit(1)).alias("_cnt")))
    # prefix offsets over <= num_partitions rows — bounded by cluster
    # parallelism, not data size; single-partition here is fine
    w_off = (Window.orderBy(_BKT)
             .rowsBetween(Window.unboundedPreceding, -1))
    off = counts.select(
        _BKT,
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off"))
    out = (local.join(F.broadcast(off), on=_BKT, how="left")
           .withColumn(
               name,
               F.when(c.isNull(), F.lit(None).cast("double"))
               .otherwise(F.col("_off") + F.col("_lrk")
                          + (F.col("_ties") - 1) / 2.0))
           .drop(_BKT, "_lrk", "_ties", "_off"))
    return out


def melted_avg_ranks(df: DataFrame, cols: list[str],
                     bounds: dict[str, list[float]] | None = None,
                     num_partitions: int | None = None,
                     prefix: str = "_rk_",
                     strata: list[str] | None = None) -> DataFrame:
    """Fractional (average) ranks of SEVERAL numeric columns in ONE wide
    exchange — the M-column form of ``ranged_avg_rank``, which pays one
    full-table bucket exchange PER column (an M-column spearman matrix =
    M sequential full shuffles, each over a frame one rank-column wider
    than the last).

    Shape: melt rows to ``(row_id, col_id, value)`` (a projection +
    ``posexplode`` — no shuffle), bucket every melted row against ITS
    column's approx-quantile boundaries (value-derived buckets, same
    tie-safety argument as ``ranged_avg_rank``), rank all columns under
    a single ``(col_id, bucket)``-keyed window, then pivot ranks back to
    one row per input row. Exchange count is CONSTANT in M: one M·N-row
    window exchange, one vocabulary-sized counts aggregation, one M·N-row
    pivot-back exchange (vs 2M+… growing exchanges for the per-column
    loop). Total shuffled bytes are ~2× one melt of the ranked columns —
    but the table's OTHER columns never enter any exchange, while the
    per-column loop reshuffles the full accumulating frame every time.

    Returns one row per input row that has at least one non-null ranked
    value: ``(_rid, {prefix}{col}...)`` — rank columns NULL where the
    input value was NULL (pairwise-skip convention, matching
    ``ranged_avg_rank``). Rows with every ranked value NULL are absent
    (they contribute nothing to rank positions or correlations).

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
    n = _num_partitions(df, num_partitions)
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
                        prefix: str = "_rk_",
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

    Returns the base frame plus ``{prefix}{col}`` double columns (NULL
    where the value was NULL — the pairwise-skip convention), or
    ``None`` when the combined dim exceeds ``max_dim_rows`` (truly
    continuous columns at scale): the caller falls back to the melted
    path. The gate is a MEASURED count of the already-needed dim, not
    a guess, so the broadcast can never blow up the driver.

    NaN note: Spark normalizes NaN in groupBy and join keys (NaN
    groups with and joins to NaN) and sorts it after every number, so
    NaN values get the same terminal rank the melted path assigns.
    """
    from ..core.cache import managed_persist, release

    vals = F.array(*[F.col(c).cast("double") for c in cols])
    dims = (df.select(F.posexplode(vals).alias("_cid", "_v"))
            .filter(F.col("_v").isNotNull())
            .groupBy("_cid", "_v")
            .agg(F.count(F.lit(1)).alias("_cnt")))
    dims = managed_persist(dims)
    if dims.count() > max_dim_rows:
        release(dims)
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
                    F.col("_r").alias(f"{prefix}{c}")))
        out = (out.join(dim_c,
                        F.col(c).cast("double") == F.col(f"_dv_{i}"),
                        "left")
               .drop(f"_dv_{i}"))
    return out


#: Joint-table row count at or below which ``joint_spearman`` ranks
#: with range-frame windows directly on the joint rows instead of the
#: ranged form (melted dims + ``grouped_ranged_cumsum``) — the same
#: measured-row-count gate pattern as ``COMPACT_CUMSUM_MAX_DISTINCT``
#: in the exact-quantile family: the input is the aggregated joint
#: table, never raw rows.
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
    Ranged form: melted dims + ``grouped_ranged_cumsum`` + shuffle rank
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
        cum = grouped_ranged_cumsum(dims, ["_cid"], ["_v"], ["_k"])
        tot = dims.groupBy("_cid").agg(F.sum("_k").alias("_n"))
        r = (F.col("_cum__k") - (F.col("_k") - 1) / 2.0
             - (F.col("_n") + 1) / 2.0)
        rdim = (cum.join(F.broadcast(tot), "_cid")
                .select("_cid", "_v", r.alias("_r")))
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
                       order_cols: list[str],
                       num_partitions: int | None = None,
                       pin: bool = True) -> DataFrame:
    """The per-group ranking family (row_number / rank / dense_rank /
    peer counts / group sizes) WITHOUT a per-group window — the
    distributed fix for ``Window.partitionBy(low_cardinality_key)``,
    which caps parallelism at |distinct keys| tasks no matter how big
    the cluster is (a 3-value status column = 3 tasks for the whole
    dataset).

    Shape (the ``grouped_ranged_cumsum`` two-branch pattern):

    1. ``repartitionByRange`` on ``(group_cols + order_cols)`` — ONE
       range exchange; a big group SPANS partitions, so parallelism is
       ``num_partitions``, not |groups|. RangePartitioner sends equal
       tuples to the same partition, so order-tuple TIES never straddle
       partitions — local rank/peer math stays exact.
    2. Per-``(pid, group)`` window: local row_number / rank /
       dense_rank / peer count — all share one sort, no extra shuffle.
    3. Per-``(pid, group)`` totals: row count + distinct-tuple count
       (``countDistinct(struct(order_cols))`` — struct, so tuples
       containing NULLs still count). Prefix sums over this TINY table
       (≤ partitions × boundary-spanning groups rows) give each pid its
       row/dense offsets and each group its size; broadcast-joined back.

    Adds columns: ``_rn`` (row_number), ``_rank``, ``_dense_rank``,
    ``_peers`` (rows tied with this one on the full order tuple),
    ``_n`` (group size). Derive the rest closed-form:
    ``percent_rank = (_rank-1)/(_n-1)``, ``cume_dist =
    (_rank+_peers-1)/_n``, ``ntile = ntile_expr(_rn, _n, k)``.

    Order columns are ascending with Spark's NULLS FIRST; callers
    aligning with engines that default NULLS LAST must pre-filter or
    flip nulls explicitly. ``pin`` as in ``ranged_cumsum``: the lazy
    localCheckpoint pins ONE materialized range partitioning shared by
    the rank and totals branches (pid alignment without leaning on
    exchange reuse); ``pin=False`` keeps the plain plan for tests."""
    oexprs = [F.col(c) for c in order_cols]
    exprs = [F.col(c) for c in group_cols] + oexprs
    n = _num_partitions(df, num_partitions)
    d = _range_tagged(df, exprs, n)
    if pin:
        d = d.localCheckpoint(eager=False)

    w = Window.partitionBy(_PID, *group_cols).orderBy(*oexprs)
    # peers = COUNT over the RANGE frame (current row, current row) =
    # rows equal on the whole order tuple; shares w's exchange and sort
    w_peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    local = (d.withColumn("_lrn", F.row_number().over(w))
              .withColumn("_lrk", F.rank().over(w))
              .withColumn("_ldr", F.dense_rank().over(w))
              .withColumn("_peers", F.count(F.lit(1)).over(w_peers)))

    tot = d.groupBy(_PID, *group_cols).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.countDistinct(F.struct(*oexprs)).alias("_dcnt"))
    # prefix offsets within each group across pids + the group size:
    # windows over the totals table — bounded by cluster parallelism
    # (× groups crossing a partition boundary), not data size
    w_off = (Window.partitionBy(*group_cols).orderBy(_PID)
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = Window.partitionBy(*group_cols)
    off = tot.select(
        _PID, *group_cols,
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_off_rn"),
        F.coalesce(F.sum("_dcnt").over(w_off), F.lit(0)).alias("_off_dr"),
        F.sum("_cnt").over(w_all).alias("_n"))

    return (local.join(F.broadcast(off), on=[_PID, *group_cols],
                       how="left")
            .withColumn("_rn", F.col("_lrn") + F.col("_off_rn"))
            .withColumn("_rank", F.col("_lrk") + F.col("_off_rn"))
            .withColumn("_dense_rank", F.col("_ldr") + F.col("_off_dr"))
            .drop(_PID, "_lrn", "_lrk", "_ldr", "_off_rn", "_off_dr"))


def grouped_ranged_cumsum(df: DataFrame, group_cols: list[str],
                          order_by: list, value_cols: list[str],
                          num_partitions: int | None = None,
                          prefix: str = "_cum_") -> DataFrame:
    """Per-group cumulative sums that stay parallel when ONE group holds
    most of the data. ``Window.partitionBy(group)`` puts an entire
    group's rows in a single task — for a training corpus where one
    source is 90% of rows that is the same single-reducer failure mode
    as a global ``Window.orderBy``. Instead: range-partition on
    ``(group, order)`` so a big group SPANS partitions (one wide
    exchange, same as the window would need), per-(pid, group) local
    cumsums, and per-group prefix offsets from a totals table bounded by
    ``num_partitions x |groups spanning a boundary|`` — broadcast-joined
    back. Same two-pass shape as ``ranged_cumsum``; lazy localCheckpoint
    pins one materialized partitioning for both branches."""
    gexprs = [F.col(g) for g in group_cols]
    oexprs = _order_exprs(order_by)
    exprs = gexprs + oexprs
    n = _num_partitions(df, num_partitions)
    d = (df.repartitionByRange(n, *exprs)
           .withColumn(_PID, F.spark_partition_id())
           .localCheckpoint(eager=False))
    w_in = (Window.partitionBy(_PID, *group_cols).orderBy(*oexprs)
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = d.select(
        "*", *[F.sum(c).over(w_in).alias(f"{prefix}{c}__local")
               for c in value_cols])
    ptot = d.groupBy(_PID, *group_cols).agg(
        *[F.sum(c).alias(f"_tot_{c}") for c in value_cols])
    # offsets within each group across pids: the totals table is tiny
    # (<= partitions x groups rows), so the per-group window is bounded
    # by cluster parallelism, not data size
    w_off = (Window.partitionBy(*group_cols).orderBy(_PID)
             .rowsBetween(Window.unboundedPreceding, -1))
    off = ptot.select(
        _PID, *group_cols,
        *[F.coalesce(F.sum(f"_tot_{c}").over(w_off), F.lit(0))
          .alias(f"_off_{c}") for c in value_cols])
    out = cum.join(F.broadcast(off), on=[_PID, *group_cols], how="left")
    for c in value_cols:
        out = out.withColumn(
            f"{prefix}{c}",
            F.col(f"{prefix}{c}__local") + F.col(f"_off_{c}"))
    drop = [_PID] + [f"{prefix}{c}__local" for c in value_cols] \
        + [f"_off_{c}" for c in value_cols]
    return out.drop(*drop)
