"""Aggregation plan builders — the engine's workhorse.

Every statistic is expressed as a *lazy Spark DataFrame plan* built from
native ``pyspark.sql.functions`` (JVM-side, whole-stage-codegen, partial+final
hash aggregation). The pandas-facing API layers call ``.toPandas()`` at the
edge; the driver-oracle queries consume these DataFrames directly.

Semantics re-derived from reference ``Handy._agg`` and friends
(handyspark/sql/dataframe.py:315-776). Design differences vs the reference:

- stratified aggregation is always ONE grouped job (a single shuffle on the
  strata keys), never N filter-jobs — at 100 TB a re-scan per stratum is the
  difference between one pass and |strata| passes;
- exact/approx is a switch: approx (GK sketch / HLL) for interactive scale,
  exact (sort-based percentile / count distinct) when an oracle needs
  bit-reproducibility;
- everything stays in Spark until the caller materializes.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.util import HandyException

__all__ = [
    "summary_plan", "value_counts_plan", "mode_plan", "nunique_plan",
    "isnull_plan", "entropy_plan", "mutual_info_plan", "corr_plan",
    "percentile_expr", "profile_plan", "exact_quantiles_plan",
    "exact_quantiles_distributed",
]


def _group(df: DataFrame, strata: list[str] | None):
    return df.groupBy(*strata) if strata else df.groupBy()


def nan_to_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Mask NaN to NULL in float/double columns so 'missing' means the
    same thing on every ingestion path (Arrow converts pandas NaN to
    NULL; the non-Arrow path keeps NaN doubles, which ``dropna`` does NOT
    drop and which poison means). Applied by the pandas-semantics
    operators (value_counts/mode/entropy/fill fitting); plain Spark
    aggregation plans keep native NaN propagation."""
    dtypes = dict(df.dtypes)
    for c in cols:
        if dtypes.get(c) in ("double", "float"):
            df = df.withColumn(
                c, F.when(F.isnan(F.col(c)), F.lit(None))
                   .otherwise(F.col(c)))
    return df


def percentile_expr(col: str, q, precision: float = 0.01,
                    exact: bool = False) -> Column:
    """approx_percentile(col, q, 1/precision) (ref dataframe.py:748-756) or
    the exact interpolated percentile (Spark ``percentile`` = DuckDB
    ``quantile_cont``, type-7). ``q`` may be a list — ONE sketch/sort pass
    returning an array (always fuse multiple quantiles of a column this
    way; N separate percentile aggs cost N data passes)."""
    if isinstance(q, (list, tuple)):
        qcol = F.array(*[F.lit(float(x)) for x in q])
    else:
        qcol = F.lit(q)
    if exact:
        return F.percentile(F.col(col), qcol)
    return F.percentile_approx(F.col(col), qcol, F.lit(int(1.0 / precision)))


_GRID_BASE = 1_000_000_000


def grid_units(col: Column, scale: int) -> Column:
    """A fixed-point money/quantity value as integer grid units:
    ``round(col * scale)`` as a long — the exact representation for
    values carrying ``log10(scale)`` decimal digits. Products of unit
    columns stay exact integers as long as the PER-ROW magnitude is
    below 2^53 (the round() runs on a double product; e.g. a 100k price
    at a 1e6 grid is 1e11 ≪ 2^53). Rounding is HALF_UP on the double's
    value, identical in Spark ``round`` and DuckDB ``ROUND``."""
    return F.round(col * scale).cast("long")


def grid_sum(units: Column, scale: int) -> Column:
    """Exact overflow-safe SUM of integer grid ``units``, ~1.3-2×
    faster than the equivalent DecimalType aggregation (measured at
    sf1: decimal q1 agg set 0.85s -> 0.67s; single product sum 0.58s ->
    0.29s) while keeping bit-identical results.

    A plain ``sum(long)`` cannot reach these magnitudes: at a 1e-6
    grid a 100k-dollar charge is ~1e11 units/row, and 6e8 rows (sf10)
    push the group sum past 2^63 — an ARITHMETIC_OVERFLOW error under
    Spark's ANSI default, a silent wrap with ANSI off. Split
    accumulation fixes the range without DecimalType's per-row checked
    arithmetic: each row contributes
    ``floor(units/1e9)`` to a HI long sum and ``pmod(units, 1e9)`` to a
    LO long sum — both native codegen'd long aggregations. HI is bounded
    by rows × (units/1e9) ~ 6e10 at sf10 (headroom to ~1e8× more rows),
    LO by rows × 1e9. The exact total ``HI·1e9 + LO`` is reassembled in
    DECIMAL on the aggregated (per-group) rows only, then divided by
    ``scale`` — still exact, so the caller's final ``round(…, 2)`` is
    deterministic at any accumulation order. DuckDB needs no split
    (``SUM(BIGINT)`` is HUGEINT there); oracles just sum the same units
    and divide.

    Exactness does NOT rest on the double divide: the quotient estimate
    below is corrected with one long-arithmetic step so that
    ``q·1e9 + r == units`` holds identically per row — the reassembled
    total is exact BY CONSTRUCTION for the full long range (the
    correction merely keeps r in [0, 1e9) so the stated HI/LO
    accumulation bounds hold). Earlier revisions floored the raw double
    quotient, exact only while units stay ≲2^53 — a razor-thin margin a
    future caller could silently cross. Contract: |units| ≤ 2^63 − 2^31
    (within one grid of long range the corrected q·b can overflow)."""
    b = F.lit(_GRID_BASE)
    # double divide estimates the true floor quotient within ±1 even at
    # 2^63 magnitudes (double rounding of the dividend shifts it by
    # ≤1024 ⇒ <1e-5 quotients); one ±1 long correction pins r into
    # [0, b) — pure codegen'd long ops, no per-row decimal
    q0 = F.floor(units / F.lit(float(_GRID_BASE))).cast("long")
    r0 = units - q0 * b
    q = (F.when(r0 < 0, q0 - F.lit(1))
          .when(r0 >= b, q0 + F.lit(1)).otherwise(q0))
    hi = F.sum(q)
    lo = F.sum(units - q * b)
    return ((hi.cast("decimal(38,0)") * b + lo.cast("decimal(38,0)"))
            / F.lit(scale))


def summary_plan(df: DataFrame, exprs: list[Column],
                 strata: list[str] | None = None) -> DataFrame:
    """groupBy(strata).agg(*exprs) — single shuffle, map-side partials.
    NO orderBy here: a sort after the agg would add a range-exchange
    (global sort) for purely cosmetic ordering; callers sort tiny results
    on the pandas edge instead."""
    return _group(df, strata).agg(*exprs)


def value_counts_plan(df: DataFrame, colnames: list[str],
                      strata: list[str] | None = None,
                      dropna: bool = True) -> DataFrame:
    """Per-value frequencies (ref dataframe.py:225-244, 633-635)."""
    strata = strata or []
    df = nan_to_null(df, colnames)   # unify NaN/NULL on BOTH dropna paths
    if dropna:
        df = df.dropna(subset=colnames)
    return (df.groupBy(*(strata + colnames))
              .agg(F.count(F.lit(1)).alias("count")))


def mode_plan(df: DataFrame, colname: str,
              strata: list[str] | None = None) -> DataFrame:
    """Most frequent value, deterministic tie-break (higher count first, then
    smaller value). Ref dataframe.py:637-656 uses orderBy+limit(1) global and
    a row_number window when stratified; we use the window form for both —
    one shuffle on (strata, value), one on strata for the ranking."""
    from pyspark.sql import Window
    strata = strata or []
    counts = (nan_to_null(df, [colname]).dropna(subset=[colname])
                .groupBy(*(strata + [colname]))
                .agg(F.count(F.lit(1)).alias("_cnt")))
    w = (Window.partitionBy(*strata)
         .orderBy(F.desc("_cnt"), F.asc(colname)))
    return (counts.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1)
                  .select(*(strata + [colname])))


def nunique_plan(df: DataFrame, colnames: list[str],
                 strata: list[str] | None = None,
                 exact: bool = False, rsd: float = 0.05) -> DataFrame:
    """Distinct counts: HLL++ by default (ref dataframe.py:536-542), exact on
    request (oracle path)."""
    fn = (F.count_distinct if exact
          else (lambda c: F.approx_count_distinct(c, rsd)))
    exprs = [fn(F.col(c)).alias(c) for c in colnames]
    return summary_plan(df, exprs, strata)


def isnull_plan(df: DataFrame, colnames: list[str],
                ratio: bool = False,
                strata: list[str] | None = None) -> DataFrame:
    """Missing count (or ratio) per column in ONE agg over all columns
    (ref dataframe.py:513-534). NaN counts as missing for float columns,
    matching pandas semantics the reference tests against."""
    dtypes = dict(df.dtypes)

    def missing(c: str) -> Column:
        cond = F.isnull(F.col(c))
        if dtypes.get(c) in ("double", "float"):
            cond = cond | F.isnan(F.col(c))
        return F.sum(cond.cast("long")).alias(c)

    exprs = [missing(c) for c in colnames]
    if ratio:
        exprs = [(missing(c) / F.count(F.lit(1))).alias(c) for c in colnames]
    return summary_plan(df, exprs, strata)


def entropy_plan(df: DataFrame, colnames: list[str],
                 strata: list[str] | None = None) -> DataFrame:
    """Shannon entropy (base 2) per categorical column
    (ref dataframe.py:658-685): two-level aggregation —
    groupBy(strata+[col]).count -> p = n_v / n -> sum(-p*log2(p)).
    Two shuffles, both on low-cardinality keys."""
    strata = strata or []
    outs = []
    for c in colnames:
        counts = (nan_to_null(df, [c]).dropna(subset=[c])
                    .groupBy(*(strata + [c]))
                    .agg(F.count(F.lit(1)).alias("_nv")))
        from pyspark.sql import Window
        w = Window.partitionBy(*strata) if strata else Window.partitionBy()
        probs = counts.withColumn("_p", F.col("_nv") / F.sum("_nv").over(w))
        ent = (probs.groupBy(*strata)
                    .agg(F.sum(-F.log2("_p") * F.col("_p")).alias("entropy"))
                    .withColumn("colname", F.lit(c)))
        outs.append(ent.select(*(strata + ["colname", "entropy"])))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def mutual_info_plan(df: DataFrame, col_x: str, col_y: str,
                     strata: list[str] | None = None) -> DataFrame:
    """Mutual information (base 2) between two categorical columns
    (ref dataframe.py:687-734): MI = sum_xy p(x,y) * log2(p(x,y)/(p(x)p(y))).

    ONE shuffle total: the joint groupBy. Marginals and the total are
    derived FROM the joint counts with window sums over the (tiny,
    |x|·|y|-row) joint table — the reference joined three separately
    aggregated marginal tables back in (3 extra shuffles + joins)."""
    from pyspark.sql import Window
    strata = strata or []
    # NULL categories excluded, as in every other categorical operator
    # here (the previous join-based form dropped them implicitly via
    # non-matching NULL join keys; keep that contract explicit)
    joint = (df.dropna(subset=[col_x, col_y])
               .groupBy(*(strata + [col_x, col_y]))
               .agg(F.count(F.lit(1)).alias("_nxy")))
    wx = Window.partitionBy(*(strata + [col_x]))
    wy = Window.partitionBy(*(strata + [col_y]))
    wn = Window.partitionBy(*strata) if strata else Window.partitionBy()
    j = (joint.withColumn("_nx", F.sum("_nxy").over(wx))
              .withColumn("_ny", F.sum("_nxy").over(wy))
              .withColumn("_n", F.sum("_nxy").over(wn)))
    term = (F.col("_nxy") / F.col("_n")) * F.log2(
        (F.col("_nxy") * F.col("_n")) / (F.col("_nx") * F.col("_ny")))
    return j.groupBy(*strata).agg(F.sum(term).alias("mutual_info"))


def corr_plan(df: DataFrame, colnames: list[str], method: str = "pearson",
              strata: list[str] | None = None,
              pairwise: bool = False,
              max_dim_rows: int = 4_000_000) -> DataFrame:
    """Pairwise correlation matrix as a long-form DataFrame
    (col_x, col_y, corr). Pearson via native F.corr (one agg, all pairs at
    once); Spearman via rank transform + Pearson (ref dataframe.py:495-505
    used mllib RDD Statistics — replaced with pure DataFrame ops).

    Spearman without strata: a column pair runs ``rank.joint_spearman``
    (one ``groupBy(x, y).count()``) unless the pair is near-unique;
    otherwise ranks come from broadcast rank dims when the combined
    distinct count is at most ``max_dim_rows``, else (and always with
    strata) from the melted-window ranks. EAGER: the row count, the
    joint table's checkpoint and the dim probe run jobs at plan
    construction; ``max_dim_rows=0`` skips them all for a fully lazy
    melted-window plan.

    ``pairwise`` (spearman only): pandas-parity mode for MISALIGNED
    nulls — each (x, y) pair filters to its pairwise-complete rows and
    RE-RANKS within that subset before correlating, exactly
    ``pandas.DataFrame.corr(method='spearman')``. Costs one
    rank-and-correlate pass PER PAIR (O(M²) passes), so it is off by
    default: the fused one-pass path ranks each column once over its
    own non-nulls and lets F.corr skip incomplete pairs — identical on
    null-free or aligned-null data, documented deviation otherwise."""
    strata = strata or []
    if method == "spearman" and pairwise:
        from .rank import melted_avg_ranks
        # Shape parity with the fused path: that path emits EVERY
        # stratum for every pair (F.corr -> NULL when no complete
        # rows), while the per-pair groupBy here would silently DROP a
        # (stratum, pair) whose pairwise-complete subset is empty — so
        # each pair's result is left-joined back onto the distinct
        # strata spine, NULL-corr where absent. (Diagonal note: a
        # zero-variance or <2-row stratum gives NULL on the diagonal
        # in BOTH modes — pandas' corr diagonal is NaN there too, so
        # no lit(1.0) special case belongs here.)
        from functools import reduce as _reduce
        # every pair's branch reads the spine and shares its distinct
        # exchange (ReusedExchange), so it is computed once
        spine = df.select(*strata).distinct() if strata else None
        outs = []
        for i, cx in enumerate(colnames):
            for cy in colnames[i:]:
                pair = [cx] if cx == cy else [cx, cy]
                sub = df.filter(F.col(cx).isNotNull()
                                & F.col(cy).isNotNull()) \
                        .select(*strata, *pair)
                ranked = melted_avg_ranks(sub, pair, strata=strata)
                res = summary_plan(
                    ranked,
                    [F.corr(F.col(f"_rk_{cx}"), F.col(f"_rk_{cy}"))
                     .alias("corr")],
                    strata).select(*strata, "corr")
                if spine is not None:
                    # NULL-SAFE stratum equality: a name-list join uses
                    # plain `=`, under which a NULL-valued stratum in
                    # `res` could never match its spine row and would
                    # always surface corr=NULL even when a real corr
                    # exists for the NULL bucket.
                    sp, rs = spine.alias("_sp"), res.alias("_rs")
                    cond = _reduce(
                        lambda a, b: a & b,
                        [F.col(f"_sp.{c}").eqNullSafe(F.col(f"_rs.{c}"))
                         for c in strata])
                    res = sp.join(rs, cond, "left").select(
                        *[F.col(f"_sp.{c}").alias(c) for c in strata],
                        F.col("_rs.corr").alias("corr"))
                outs.append(res.select(
                    *strata, F.lit(cx).alias("col_x"),
                    F.lit(cy).alias("col_y"), "corr"))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out
    if method == "spearman":
        # average ranks per column, computed at DISTINCT-VALUE
        # granularity: rank(v) = #smaller + (cnt_v + 1)/2, via a
        # cumulative window over distinct values joined back in. The
        # window input is |distinct values| rows — never a
        # single-partition pass over all rows (the naive row_number form
        # moves the whole dataset to one task).
        # NULL convention: each column is ranked over ITS OWN non-null
        # values; F.corr then skips incomplete pairs. When nulls are
        # misaligned across columns this differs from pandas, which
        # RE-RANKS within each pairwise-complete subset — that exact
        # semantics is available as the O(pairs)-passes ``pairwise=True``
        # slow path above (identical results on null-free or
        # aligned-null data either way).
        # ranks over NON-NULL values only; NULL values keep a NULL rank
        # and F.corr then skips them PAIRWISE — the pandas/scipy
        # convention (listwise-dropping would remove the row from every
        # other column's correlation too).
        # ALL columns rank in one melted pass — exchange count constant
        # in M both unkeyed and stratified (strata keys join every
        # window/agg key), where the old loops paid one full-table
        # exchange (unkeyed) or one distinct-agg + join-back (keyed)
        # PER column
        from .rank import (broadcast_dim_ranks, joint_spearman,
                           melted_avg_ranks)
        if (not strata and max_dim_rows > 0 and len(colnames) == 2
                and colnames[0] != colnames[1]):
            # joint-frequency plan: no per-row rank attachment at all;
            # the count bounds |joint| and picks its branch. The count
            # is near-free only for base parquet scans (empty
            # ReadSchema); a computed df re-executes here, which every
            # branch below would do too.
            out = joint_spearman(df, list(colnames), df.count())
            if out is not None:
                return out
        ranked = None
        if not strata and max_dim_rows > 0:
            # Zero-exchange fast path (round 8): when the ranked
            # columns' combined distinct-value count is bounded
            # (MEASURED, not guessed — see broadcast_dim_ranks), rank
            # dims broadcast-join onto the base scan and F.corr
            # reduces map-side: no melt, no pivot, no full-table
            # shuffle. Unbounded-cardinality columns return None here
            # and take the melted-window path below; stratified ranks
            # always do (dims would need per-stratum keys). The probe
            # is an EAGER job — max_dim_rows=0 opts out (see docstring).
            ranked = broadcast_dim_ranks(df, list(colnames),
                                         max_dim_rows=max_dim_rows)
        df = ranked if ranked is not None \
            else melted_avg_ranks(df, list(colnames), strata=strata)
        src = {c: f"_rk_{c}" for c in colnames}
    else:
        src = {c: c for c in colnames}
    exprs = []
    for i, cx in enumerate(colnames):
        for cy in colnames[i:]:
            exprs.append(F.corr(F.col(src[cx]).cast("double"),
                                F.col(src[cy]).cast("double"))
                         .alias(f"{cx}__{cy}"))
    wide = summary_plan(df, exprs, strata)
    # unpivot to long form
    pairs = [(cx, cy) for i, cx in enumerate(colnames) for cy in colnames[i:]]
    stack = F.expr("stack({}, {})".format(
        len(pairs),
        ", ".join(f"'{cx}', '{cy}', `{cx}__{cy}`" for cx, cy in pairs)))
    return wide.select(*strata, stack.alias("col_x", "col_y", "corr"))


def profile_plan(df: DataFrame, colnames: list[str] | None = None,
                 exact: bool = False) -> DataFrame:
    """Whole-frame column profile in ONE wide aggregation: per column a
    row (column, n, n_null, n_distinct, min, max, mean, std) — the
    dataset-card / data-quality summary. Numeric columns get the four
    moment stats (cast to double); other types profile as NULL there.

    ``exact=False`` (default) uses HLL++ distinct counts — a single
    mergeable-sketch pass with no expand, the 100 TB path. ``exact=True``
    plans Spark's multi-distinct expand (one job, |cols|× input rows
    regenerated) — the oracle-grade switch. Output is |cols| rows
    unpivoted driver-side from the single result row."""
    from pyspark.sql.types import NumericType
    cols = colnames or df.columns
    numeric = {f.name for f in df.schema.fields
               if isinstance(f.dataType, NumericType)}
    exprs = []
    for c in cols:
        col = F.col(c)
        exprs += [
            F.count(col).alias(f"cnt__{c}"),
            F.count_if(col.isNull()).alias(f"nul__{c}")]
        if not exact:
            # HLL sketches merge in the same (expand-free) agg pass
            exprs.append(F.approx_count_distinct(col).alias(f"dst__{c}"))
        if c in numeric:
            d = col.cast("double")
            exprs += [F.min(d).alias(f"min__{c}"),
                      F.max(d).alias(f"max__{c}"),
                      F.mean(d).alias(f"mean__{c}"),
                      F.stddev(d).alias(f"std__{c}")]
        else:
            exprs += [F.lit(None).cast("double").alias(f"{m}__{c}")
                      for m in ("min", "max", "mean", "std")]
    wide = summary_plan(df, exprs)
    if exact:
        # multi-DISTINCT plans an Expand that regenerates the input once
        # per distinct column; keeping the 40-odd plain aggregates OUT of
        # that plan (separate agg + 1-row × 1-row join) halves the
        # expanded-row width and the measured wall time.
        #
        # Round-13 size gate (guide §2.3 — regenerate fewer bytes):
        # above ``PROFILE_SPLIT_DISTINCT_MIN_BYTES`` of estimated
        # input, the single Expand agg (|cols| x input rows regenerated
        # through one wide hash aggregate) loses to |cols| INDEPENDENT
        # one-column distinct aggs — each a column-pruned scan +
        # two-phase partial distinct, no Expand node, subtrees
        # scheduled concurrently under the one action. Measured noop,
        # lineitem x7 cols, steal-tagged clean rounds, both run orders:
        # sf10 (1.8 GB) Expand 9.17 vs split 5.39 s; sf0.1 (10.8 MB)
        # 2.53 vs 1.11 s; sf0.01 (1 MB) 1.8 vs 3.0 s — the split's
        # extra cost is ~7 fixed stages, so it loses only when the
        # input is tiny. The gate reads the optimizer's own size
        # ESTIMATE (the statistic the broadcast threshold uses) — no
        # data pass, deterministic for a fixed input.
        if _plan_size_bytes(df) >= PROFILE_SPLIT_DISTINCT_MIN_BYTES:
            for c in cols:
                d = (df.select(c)
                     .agg(F.countDistinct(F.col(c)).alias(f"dst__{c}")))
                wide = wide.crossJoin(F.broadcast(d))
        else:
            dst = df.agg(*[F.countDistinct(F.col(c)).alias(f"dst__{c}")
                           for c in cols])
            wide = wide.crossJoin(F.broadcast(dst))
    parts = ", ".join(
        f"'{c}', cnt__{c}, nul__{c}, dst__{c}, "
        f"min__{c}, max__{c}, mean__{c}, std__{c}" for c in cols)
    stack = F.expr(f"stack({len(cols)}, {parts})")
    return wide.select(stack.alias(
        "column", "n", "n_null", "n_distinct", "min", "max", "mean", "std"))


# Expand-vs-split gate for ``profile_plan(exact=True)``: at or above
# this much ESTIMATED input (the optimizer's sizeInBytes statistic —
# on-disk bytes for a file scan, no data pass) the multi-column exact
# distinct is planned as per-column independent aggs instead of one
# Expand agg. A/B on lineitem (7 profiled cols, noop sink, clean
# steal<1% rounds, both run orders): sf10 (1.84 GB) Expand 9.17 s vs
# split 5.39 s; sf0.1 (10.8 MB) 2.53 vs 1.11 s; sf0.01 (1 MB) ~1.8 vs
# ~3.0 s. The Expand's |cols| x rows regeneration grows linearly with
# input while the split costs a fixed ~|cols| extra stages, so the
# measured crossover sits between 1 and 10 MB; 4 MB flips everything
# but genuinely tiny inputs to the split plan.
PROFILE_SPLIT_DISTINCT_MIN_BYTES = 4 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int:
    """The optimizer's estimated size of ``df`` in bytes (the statistic
    the autoBroadcastJoinThreshold decision reads). Driver-side plan
    analysis only — never runs a job."""
    return int(df._jdf.queryExecution().optimizedPlan()
               .stats().sizeInBytes())


def _quantile_row(df: DataFrame, col: str, qs: list[float]) -> DataFrame:
    """Exact type-7 (linear-interpolation) quantiles ``qs`` of ``col`` as
    ONE lazy row holding one ``array<double>`` column named ``col``
    (entries NULL when the column has no values). Selection by rank:

    1. value counts: cast to double, drop NULL and NaN (NaN sorts above
       every double), one count ``c`` per value — one shuffle with
       map-side combine;
    2. one window ordered by ``v`` carries the running count ``_cum``
       and the total ``_n`` (both frames share the one Window node);
    3. one global aggregate picks, per q with r = 1 + (n-1)·q, the
       value whose tie run ``(_cum - c, _cum]`` holds ⌊r⌋ (min) and
       ⌈r⌉ (max); the select interpolates ``lo + (r - ⌊r⌋)·(hi - lo)``.

    The window has no partition key, so it runs in one task. That is
    allowed here because it sorts the |distinct|-row aggregated table,
    never raw rows: a synthetic 20M-distinct column took 30 s on a
    4-core host against 58 s for the range-partitioned cumsum (the one
    task spills, and stays ahead)."""
    from pyspark.sql import Window
    v = F.col(col).cast("double")
    counts = (df.select(v.alias("v"))
              .where(F.col("v").isNotNull() & ~F.isnan("v"))
              .groupBy("v").agg(F.count(F.lit(1)).alias("c")))
    w = Window.orderBy("v")
    cum = counts.select(
        "v", "c",
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("_cum"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.unboundedFollowing))
        .alias("_n"))

    def at(k):   # the value whose tie run holds 1-based position k
        return F.when((F.col("_cum") >= k) &
                      (F.col("_cum") - F.col("c") < k), F.col("v"))

    # r reads ``_n`` both inside the aggregate and after it: ``_n`` is
    # the same on every row, so its max carries it through
    rank = [F.lit(1.0) + (F.col("_n") - 1) * float(q) for q in qs]
    ends = cum.agg(F.max("_n").alias("_n"), *[
        e for i, r in enumerate(rank)
        for e in (F.min(at(F.floor(r))).alias(f"_lo{i}"),
                  F.max(at(F.ceil(r))).alias(f"_hi{i}"))])
    out = []
    for i, r in enumerate(rank):
        lo, hi = F.col(f"_lo{i}"), F.col(f"_hi{i}")
        out.append(lo + (r - F.floor(r)) * (hi - lo))
    return ends.select(F.array(*out).alias(col))


def exact_quantiles_plan(df: DataFrame,
                         cols: dict[str, list[float]]) -> DataFrame:
    """Exact type-7 quantiles of several columns as ONE lazy row with one
    ``array<double>`` column per input column (the shape of the fused
    ``percentile_expr(exact=True)`` aggregate). Each column is its own
    ``_quantile_row`` branch over ``df.select(c)``, so each scan reads
    only its own column; the one-row branches are cross-joined and run
    under one action. Per-column branches beat one stacked
    ``(col, v)`` pipeline at every SF measured (sf10: 8.5 s vs 15.7 s
    for two lineitem columns — the explode doubles the sorted rows)."""
    from functools import reduce
    return reduce(DataFrame.crossJoin, [_quantile_row(df.select(c), c, qs)
                                        for c, qs in cols.items()])


def exact_quantiles_distributed(
        df: DataFrame, cols: dict[str, list[float]]
) -> dict[str, dict[float, float]]:
    """``exact_quantiles_plan`` collected to the driver as
    ``{col: {q: value}}`` — for operators that need fence/cut CONSTANTS
    (Tukey fences, exact percentile summaries). A column with no
    non-null, non-NaN values has no quantiles: ``HandyException``
    naming it."""
    row = exact_quantiles_plan(df, cols).collect()[0]
    res = {}
    for c, qs in cols.items():
        if None in row[c]:
            raise HandyException(f"exact quantiles of column {c!r} are "
                                 "undefined: it has no non-null values")
        res[c] = dict(zip(qs, row[c]))
    return res


def quantile_normalize_plan(df: DataFrame, value_col: str,
                            by: str, out_col: str = "qnorm"
                            ) -> DataFrame:
    """Within-group quantile normalization: each value maps to its
    group's empirical CDF (``cume_dist`` semantics: P(X <= x)) — the
    standard way to make quality scores comparable ACROSS sources whose
    raw scales differ before mixing on a shared threshold.

    Scalable shape: distinct (group, value) counts first (bounded
    state), then grouped ``ranged_cumsum`` for the per-group running
    totals — a per-group window would put an entire group's rows in one
    task. Output: (by, value_col, out_col), one row per distinct value;
    join back on (by, value) to score rows."""
    from .rank import ranged_cumsum
    g = (df.groupBy(F.col(by), F.col(value_col).alias("_v"))
         .agg(F.count(F.lit(1)).alias("_c")))
    # the cumsum's group total _n__c counts the NULL-value group too; the
    # CDF's denominator is the non-null count
    cum = ranged_cumsum(g, [F.col("_v")], ["_c"], [by])
    totals = df.groupBy(by).agg(F.count(value_col).alias("_n"))
    out = cum.join(F.broadcast(totals), by)
    return out.select(
        F.col(by), F.col("_v").alias(value_col),
        (F.col("_cum__c") / F.col("_n")).alias(out_col))
