"""Deterministic sampling and split assignment for training-data
pipelines.

Random sampling (``df.sample``) is partition-order dependent — rerun the
pipeline after a repartition and you get a different sample. Training
pipelines need DETERMINISTIC membership: the same row lands in the same
split on every run, on any cluster layout. Standard trick: hash a stable
key to [0,1) and threshold — reproducible across engines (the DuckDB
oracle computes the identical hashes), mergeable across incremental runs,
and a pure projection (no shuffle, no state).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_unit(key: Column, salt: str = "") -> Column:
    """Stable uniform-ish [0,1) value: first 8 md5 hex chars / 2^32.
    Engine-reproducible (md5 is md5 everywhere). NULL keys hash to NULL
    (not a shared constant bucket) — null-key rows are excluded from
    samples and get a NULL split, matching SQL NULL propagation."""
    h = F.conv(F.substring(F.md5(F.concat_ws("#", key.cast("string"),
                                             F.lit(salt))), 1, 8),
               16, 10).cast("double")
    return F.when(key.isNull(), F.lit(None).cast("double")) \
        .otherwise(h / F.lit(float(1 << 32)))


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                salt: str = "") -> DataFrame:
    """Deterministic ~``fraction`` sample keyed on ``key_col`` — pure
    filter projection (pushdown-friendly, zero shuffle)."""
    return df.filter(hash_unit(F.col(key_col), salt) < fraction)


def split_assign(df: DataFrame, key_col: str,
                 splits: dict[str, float] | None = None,
                 salt: str = "", out_col: str = "split") -> DataFrame:
    """Assign each row to a named split by hash range, e.g.
    ``{"train": 0.9, "val": 0.05, "test": 0.05}`` — disjoint, exhaustive,
    stable under reruns and data growth (a row's split never changes when
    other rows are added)."""
    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    u = hash_unit(F.col(key_col), salt)
    items = list(splits.items())
    if len(items) == 1:
        return df.withColumn(
            out_col, F.when(u.isNotNull(), F.lit(items[0][0])))
    expr = None
    lo = 0.0
    for name, frac in items[:-1]:
        hi = lo + frac
        cond = u < F.lit(hi) if expr is None else (u >= F.lit(lo)) & \
            (u < F.lit(hi))
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
        lo = hi
    expr = expr.otherwise(F.lit(items[-1][0]))
    # NULL keys -> NULL split (the .otherwise above would otherwise
    # swallow them into the last split)
    expr = F.when(u.isNotNull(), expr)
    return df.withColumn(out_col, expr)


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: dict, seed: int = 42) -> DataFrame:
    """Per-stratum sampling via native ``sampleBy`` (Bernoulli per key) —
    NOT deterministic across layouts; use ``hash_sample`` + per-stratum
    thresholds when reproducibility matters."""
    return df.sampleBy(strata_col, fractions, seed)


def balanced_sample(df: DataFrame, strata_col: str, key_col: str,
                    per_stratum: int) -> DataFrame:
    """Deterministic 'take ~n per stratum' by hash rank — stable under
    reruns, and parallel within a stratum via the salted two-phase
    ``keyed_top_k`` (a plain stratum-keyed window caps the scan at
    |strata| tasks)."""
    from ..operators.rank import keyed_top_k
    return keyed_top_k(
        df.withColumn("_bs_u", hash_unit(F.col(key_col))),
        [strata_col], [F.asc("_bs_u"), key_col], per_stratum,
        salt_col=key_col).drop("_bs_u")


def mix_sources(sources: list[tuple[DataFrame, float]],
                key_col: str, salt: str = "mix") -> DataFrame:
    """Deterministic training-data mixing: union of per-source hash
    samples, each keeping ``fraction`` of its rows (fraction > 1 repeats
    whole passes plus a fractional hash-sampled remainder — the standard
    'epochs per source' mixing weight). Layout-independent and stable
    under re-runs: membership depends only on (key, salt).

    An ``_epoch`` column distinguishes repeated passes so downstream
    shuffles don't collapse duplicates. Map-only per source — no shuffle
    until the consumer adds one."""
    out = None
    for i, (df, frac) in enumerate(sources):
        if frac <= 0:
            continue
        whole, rem = int(frac), frac - int(frac)
        parts = []
        for e in range(whole):
            parts.append(df.withColumn("_epoch", F.lit(e)))
        if rem > 0:
            parts.append(
                hash_sample(df, key_col, rem, salt=f"{salt}#{i}")
                .withColumn("_epoch", F.lit(whole)))
        for p in parts:
            out = p if out is None else out.unionByName(p)
    if out is None:
        raise ValueError("no source with positive fraction")
    return out


def token_budget_sample(df: DataFrame, key_col: str, weight_col,
                        budget: float, by: str | None = None,
                        salt: str = "",
                        keep_cum: bool = False) -> DataFrame:
    """Deterministic budgeted sample: rows are taken in stable-hash
    priority order until the running total of ``weight_col`` (tokens,
    bytes, ...) INCLUDING the current row reaches ``budget`` — per
    ``by`` group when given (e.g. a per-source token budget), else
    globally. The standard 'cap each source at N tokens' step of a
    training-data mix.

    Membership depends only on (key, salt, budget and the group's
    weight distribution): stable across cluster layouts and reruns.
    The running total uses ``ranged_cumsum`` — one wide range
    exchange, N-way parallel even when one group dominates the corpus
    (a per-group window would funnel that group into a single task)."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = hash_unit(F.col(key_col), salt)
    group = [by] if by else []
    narrow = df.select(*group, F.col(key_col).alias("_tbs_key"),
                       u.alias("_tbs_u"), w.alias("_tbs_w"))
    from ..operators.rank import ranged_cumsum
    cum = ranged_cumsum(narrow, [F.col("_tbs_u"), F.col("_tbs_key")],
                        ["_tbs_w"], group)
    kept = (cum.filter(F.col("_cum__tbs_w") <= budget)
            .select(F.col("_tbs_key").alias(key_col),
                    F.col("_cum__tbs_w").alias("_tbs_cum")))
    out = df.join(kept, key_col, "inner")
    return out if keep_cum else out.drop("_tbs_cum")


def weighted_sample(df: DataFrame, key_col: str, weight_col,
                    n: int, by: str | None = None,
                    salt: str = "") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis): priority = u^(1/w) with u the stable unit
    hash — take the n highest priorities (per ``by`` group when given).
    Inclusion probability is proportional to weight, membership is
    reproducible across layouts/engines, and no rejection loop exists.

    Global form compiles to TakeOrderedAndProject (distributed top-n,
    no single-partition window); grouped form runs the salted two-phase
    ``keyed_top_k`` — a plain per-group window would funnel each
    group's full row set into ONE task, capping a corpus scan at
    |groups| tasks (e.g. 20 sources = 20 tasks forever)."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = hash_unit(F.col(key_col), salt)
    pri = F.pow(u, F.lit(1.0) / w.cast("double"))
    if by is None:
        return (df.withColumn("_pri", pri)
                .orderBy(F.desc("_pri"), F.col(key_col))
                .limit(n).drop("_pri"))
    from ..operators.rank import keyed_top_k
    return keyed_top_k(df.withColumn("_pri", pri), [by],
                       [F.desc("_pri"), key_col], n,
                       salt_col=key_col).drop("_pri")


def kfold_assign(df: DataFrame, key_col: str, k: int = 5,
                 salt: str = "fold", out_col: str = "fold") -> DataFrame:
    """Deterministic k-fold assignment: fold = floor(u * k) over the
    stable unit hash — disjoint, near-equal folds, stable under reruns
    and data growth (a row never changes folds when rows are added).
    Use a CLUSTER id as the key for leakage-safe folds (see
    leakage_safe_split)."""
    u = hash_unit(F.col(key_col), salt)
    return df.withColumn(
        out_col,
        F.when(u.isNotNull(),
               F.least(F.floor(u * k), F.lit(k - 1)).cast("int")))


def deterministic_shuffle(df: DataFrame, key_col: str,
                          salt: str = "shuffle") -> DataFrame:
    """Global deterministic shuffle for training-data ordering: total
    order by (md5(key#salt), key) — reproducible across runs, engines
    and partition layouts, and re-randomizable by changing ``salt``
    (the standard epoch-reshuffle trick).

    Plan shape: Spark's sort is a range-partitioned distributed sort
    (sample → range boundaries → per-partition sort) — the TeraSort
    pattern, linear scalability to any corpus size; writing the result
    partitioned-by-range yields globally shuffled shards for a trainer.
    ``LIMIT n`` on it compiles to TakeOrderedAndProject (distributed
    top-n, nothing funnels to one task)."""
    key = F.col(key_col)
    h = F.md5(F.concat_ws("#", key.cast("string"), F.lit(salt)))
    return (df.withColumn("_shuffle_key", h)
            .orderBy("_shuffle_key", key_col)
            .drop("_shuffle_key"))


def dsir_doc_buckets(df: DataFrame, text_col: str = "text",
                     id_col: str | None = "doc_id", n: int = 2,
                     buckets: int = 8192) -> DataFrame:
    """The TARGET-INDEPENDENT half of DSIR: per-document hashed n-gram
    bucket counts ``(id_col, _b, _c)`` — tokenize + md5 every corpus
    gram ONCE, reduce with a map-side-combined groupBy. This is the
    expensive projection (the family is projection-bound, SCALE.md
    round-9); everything target-specific downstream (histograms,
    log-ratios, per-doc weights) is cheap aggregation over this table.
    A production pipeline computes it once per corpus snapshot and
    reuses it across every target distribution — pass the materialized
    result to ``dsir_weights(doc_buckets=...)``.

    ``id_col=None`` drops the document key: returns the corpus-level
    ``(_b, _c)`` histogram directly (used for target frames that carry
    no id column)."""
    def body(tk):
        m = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: gram_at(tk, i, n))

    from .text import gram_at, let_bound, tokens
    grams = let_bound(tokens(text_col), body)
    b = F.pmod(F.conv(F.substring(F.md5(F.col("_g")), 1, 8), 16, 10)
               .cast("bigint"), F.lit(buckets))
    keys = [F.col(id_col)] if id_col else []
    return (df.select(*keys, F.explode(grams).alias("_g"))
            .select(*keys, b.alias("_b"))
            .groupBy(*([id_col] if id_col else []), "_b")
            .agg(F.count(F.lit(1)).alias("_c")))


def dsir_weights(df: DataFrame, target: DataFrame | None,
                 text_col: str = "text", id_col: str = "doc_id",
                 target_text_col: str | None = None,
                 n: int = 2, buckets: int = 8192,
                 smoothing: float = 0.5,
                 doc_buckets: DataFrame | None = None,
                 target_doc_buckets: DataFrame | None = None) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023)
    weights: score each raw document by how much its hashed n-gram
    feature distribution looks like a TARGET corpus (the public
    recipe behind quality-targeted pretraining mixes).

    log w(doc) = sum over the doc's n-gram occurrences of
                 log p_target(bucket) - log q_raw(bucket),
    with n-grams hashed into ``buckets`` buckets and both bucket
    distributions add-``smoothing`` (add-half by default) estimated.

    Plan shape (100 TB story): the two bucket histograms are
    ``buckets``-row aggregates (map-side partial sums; shuffled bytes ~
    buckets regardless of corpus size), joined into one tiny
    (bucket, logratio) table that is BROADCAST onto the exploded
    corpus-side n-gram rows; per-doc summation is ONE keyed exchange of
    (id, double). Nothing pairwise, nothing driver-side.

    ``doc_buckets`` / ``target_doc_buckets``: precomputed
    ``dsir_doc_buckets`` results (same ``n``/``buckets``!) for the raw
    corpus and the target. The corpus projection dominates the whole
    operation, and the feature table is TARGET-INDEPENDENT — compute it
    once per corpus snapshot, reuse it for every target mix (and when
    the target is an id-slice of the corpus, its table is a FILTER of
    the same one). ``target`` may be None when ``target_doc_buckets``
    is given.

    Returns (id_col, n_feats, log_weight) — feed ``log_weight`` (or
    exp of it, clipped) to ``weighted_sample`` for the resampling step.
    """
    tcol = target_text_col or text_col

    # ONE corpus gram projection (round 9): the raw-side histogram AND
    # the per-doc features both derive from per-doc bucket counts, so
    # tokenize+md5 every corpus gram once, reduce to (id, bucket, c)
    # with a map-side-combined groupBy, pin THAT with a lazy local
    # checkpoint, and read the q histogram off it (a buckets-row
    # aggregate of an already-materialized frame). The previous shape
    # projected the corpus twice (hist pass + feats pass) — and the
    # dup_spans round-9 profile showed this operator family is
    # PROJECTION-bound, not shuffle-bound. Measured at sf1: 14.4 ->
    # 11.8s cold. The checkpoint lives as long as the returned plan
    # that reads it. A caller-supplied doc_buckets is used as-is: the
    # caller decides how it is shared (the dsir_weights registry query
    # checkpoints its own, shared with the target slice).
    if doc_buckets is None:
        docb = dsir_doc_buckets(df, text_col, id_col, n, buckets) \
            .localCheckpoint(eager=False)
    else:
        docb = doc_buckets
    # p and q each feed a total (one collect) and the ratio table
    # (another): the checkpoints keep each to one evaluation
    q = (docb.groupBy("_b").agg(F.sum("_c").alias("_qc"))
         .localCheckpoint(eager=False))
    if target_doc_buckets is not None:
        p = target_doc_buckets.groupBy("_b").agg(F.sum("_c").alias("_pc"))
    else:
        p = (dsir_doc_buckets(target, tcol, None, n, buckets)
             .withColumnRenamed("_c", "_pc"))
    p = p.localCheckpoint(eager=False)
    pt = p.agg(F.sum("_pc")).collect()[0][0] or 0
    qt = q.agg(F.sum("_qc")).collect()[0][0] or 0
    lr = (F.log((F.coalesce(F.col("_pc"), F.lit(0)) + smoothing)
                / F.lit(float(pt + smoothing * buckets)))
          - F.log((F.coalesce(F.col("_qc"), F.lit(0)) + smoothing)
                  / F.lit(float(qt + smoothing * buckets))))
    # per-bucket log-ratios are snapped to an integer micro-grid so the
    # per-doc reduction is an EXACT integer sum — identical across
    # engines, partition counts and add orders (double sums are not)
    ratio = (p.join(q, "_b", "full")
             .select("_b", F.floor(lr * 1e6 + F.lit(0.5))
                     .cast("bigint").alias("_lr_u")))
    # the ratio table is <= ``buckets`` (8k) rows: materialize it as a
    # local frame so the returned plan no longer references p/q (their
    # checkpoints die with this call), and the broadcast ships a literal
    # relation, not a plan. It travels as an Arrow table both ways, so
    # no Python worker runs.
    ratio = df.sparkSession.createDataFrame(ratio.toArrow(),
                                            schema=ratio.schema)
    return (docb.join(F.broadcast(ratio), "_b", "left")
            .groupBy(id_col)
            .agg(F.sum("_c").cast("bigint").alias("n_feats"),
                 (F.sum(F.col("_lr_u") * F.col("_c")) / F.lit(1e6))
                 .alias("log_weight")))


def temperature_mix_rates(df: DataFrame, source_col: str,
                          weight_col, alpha: float = 0.7) -> DataFrame:
    """Temperature-based source mixing rates (the multilingual/multi-
    corpus sampling rule popularized by multilingual BERT/T5): source i
    with token mass n_i is sampled with probability proportional to
    n_i^alpha — alpha<1 up-weights small sources, alpha=1 is natural
    sampling. Returns (source_col, mass, p_natural, p_mix, boost) where
    boost = p_mix / p_natural is the per-source oversampling factor.

    ONE grouped agg (|sources| rows) + a broadcast total; apply with
    ``hash_sample(df_source, key, fraction=rate)`` per source or a join
    on the rates table."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    mass = df.groupBy(source_col).agg(
        F.sum(w.cast("double")).alias("mass"))
    tot = mass.agg(F.sum("mass").alias("_t"),
                   F.sum(F.pow(F.col("mass"), F.lit(alpha)))
                   .alias("_ta"))
    return (mass.crossJoin(F.broadcast(tot))
            .select(source_col, "mass",
                    F.round(F.col("mass") / F.col("_t"), 6)
                    .alias("p_natural"),
                    F.round(F.pow(F.col("mass"), F.lit(alpha))
                            / F.col("_ta"), 6).alias("p_mix"),
                    F.round((F.pow(F.col("mass"), F.lit(alpha))
                             / F.col("_ta"))
                            / (F.col("mass") / F.col("_t")), 6)
                    .alias("boost")))

