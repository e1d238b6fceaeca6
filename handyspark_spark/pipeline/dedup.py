"""Deduplication operators for large-scale training-data pipelines.

Seven dedup strategies, each chosen for a different scale/fidelity point:

- ``exact_duplicates``: md5-keyed hash groupBy — one shuffle on a 128-bit
  key, the 100 TB workhorse for byte-identical dedup.
- ``fingerprint_duplicates``: same shuffle on the canonical token-set
  fingerprint (catches reordered/whitespace-variant docs).
- ``ngram_jaccard_pairs``: exact Jaccard over token sets — a bitmask
  self-join on tiny vocabularies, else a prefix-filtered or
  inverted-index token join; quadratic in docs-per-token, intended for
  verification at small scale and as the oracle for MinHash.
  ``containment_pairs`` shares its bitmask and inverted plans.
- ``minhash_signatures`` / ``minhash_lsh_pairs``: MinHash + banded LSH —
  the scale path. Hashes are md5-derived (first 8 hex chars as uint), so
  signatures are engine-reproducible (DuckDB computes identical values).
  ``minhash_lsh_groups`` / ``minhash_lsh_components`` give linear-size
  cluster labels over the same buckets.
- ``simhash_fingerprints``: 64-bit SimHash via an Arrow pandas UDF
  (vectorized numpy bit-twiddling; a pure projection, no shuffle).
- ``embedding_neardup_pairs``: cosine-over-threshold pairs on an embedding
  column; exact self-join here, LSH-bucketed variant in
  ``pipeline.similarity``.
- ``duplicate_ngram_spans`` / ``strip_duplicate_spans``: ExactSubstr
  (Lee et al. 2021) duplicate n-gram spans, found and removed.

Plans are picked from the input and the caller's caps, never by a
strategy flag; the LSH pair and ExactSubstr plans are lazy (building
them runs no Spark job). Tuning values that no caller sets are module
constants (``_SMALL_GRAPH_EDGES``, ``_HOT_MIN`` and its neighbours),
read at call time.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs, doc_ids).
    One shuffle on the hash; ids aggregated sorted for determinism."""
    return (df.select(F.md5(F.col(text_col)).alias("content_hash"),
                      F.col(id_col))
              .groupBy("content_hash")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
              .filter(F.col("n_docs") > 1))


def fingerprint_duplicates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Same shape keyed on the sorted-token-set fingerprint."""
    from .text import fingerprint
    return (df.select(fingerprint(text_col).alias("fingerprint"),
                      F.col(id_col))
              .groupBy("fingerprint")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.array_sort(F.collect_list(id_col)).alias("doc_ids"))
              .filter(F.col("n_docs") > 1))


def _token_sets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col).alias("_id"),
                     F.array_distinct(tokens(text_col)).alias("_toks"))


def _cap_candidate_pairs(keyed: DataFrame, key_cols: list[str],
                         max_candidate_pairs: int | None, op: str,
                         materialize: bool = False) -> DataFrame:
    """Loud guard for pair-enumeration blow-up: a join key shared by n
    rows emits n·(n-1)/2 candidate pairs, so the candidate volume is
    sum-over-keys of C(n,2) — quadratic in duplicate-clique depth. At
    sf10 the uncapped forms ran to 346M output rows / 77 GB of shuffle
    spill; the failure mode was disk exhaustion hours in, not an error.
    This computes the exact candidate count with ONE linear aggregation
    (map-side partial counts; shuffled bytes = |distinct keys|) and
    raises naming the linear-scale alternatives. Mirrors the query-row
    cap of ``similarity._query_table``; pass ``max_candidate_pairs=None``
    to opt out.

    The guard is an eager job, so without a materialization the keyed
    frame's upstream runs twice — once here, once under the candidate
    join. ``materialize=True`` pins it with a lazy local checkpoint so
    both share one materialization; callers MUST use the RETURNED
    frame. Reserve it for truncated/bounded generators (the
    ``_smallest_k_per_key`` outputs, whose salted two-phase top-k is
    the expensive thing not to run twice); for unbounded generators
    the guard deliberately stays storage-free — it may be about to
    REFUSE a corpus-sized frame, and persisting one just to reject it
    would trade the documented extra linear pass for executor-storage
    exhaustion on exactly the inputs the guard exists to catch."""
    if max_candidate_pairs is None:
        return keyed
    if materialize:
        keyed = keyed.localCheckpoint(eager=False)
    row = (keyed.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
           .agg(F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("_p"),
                F.max("_n").alias("_mx"))
           .collect()[0])
    npairs = int(row["_p"] or 0)
    if npairs > max_candidate_pairs:
        raise ValueError(
            f"{op}: candidate-pair volume {npairs:,} exceeds "
            f"max_candidate_pairs={max_candidate_pairs:,} (hottest join "
            f"key holds {row['_mx']:,} rows) — pair enumeration is "
            f"quadratic in duplicate-clique depth. Use the linear-scale "
            f"paths instead: minhash_lsh_groups / connected_components "
            f"(cluster membership without pair materialization), or "
            f"bound the candidate generator (max_token_df / "
            f"max_postings_per_token), or pass max_candidate_pairs=None "
            f"to force the enumeration")
    return keyed


def _smallest_k_per_key(df: DataFrame, key_cols: list[str],
                        order_col: str, k: int,
                        n_salts: int = 32) -> DataFrame:
    """Keep the ``k`` smallest ``order_col`` rows per key — the
    deterministic postings-truncation primitive, via the salted
    two-phase ``operators.rank.keyed_top_k`` (a plain keyed window
    would serialize a hot token's millions of postings into one task).
    Oracles reproduce it with one plain QUALIFY."""
    from ..operators.rank import keyed_top_k
    return keyed_top_k(df, key_cols, [order_col], k, n_salts=n_salts)


# Pair-family plan thresholds: the plan is picked by measuring the input
# against these, never by a caller's flag.
_BITMASK_MAX_ROWS = 100_000      # the bitmask self-join is O(n²)
_BITMASK_MAX_VOCAB = 58          # HLL headroom under the 63-bit mask
_PREFIX_MIN_THRESHOLD = 0.5      # below it the prefix sliver is too long


def _bitmask_self_join(ts: DataFrame,
                       capped: bool) -> tuple[DataFrame, DataFrame] | None:
    """Small-vocabulary pair plan shared by ``ngram_jaccard_pairs`` and
    ``containment_pairs``: each token set packs into one bigint over an
    exact, collected token dictionary, and pairs come from a broadcast
    self-join of ``(_id, _m)`` — integer bit ops, no exploded shuffle.
    On a <= 58-token vocabulary every token is a stop token, and the
    inverted join fans out to ~|vocab| x n²/2 rows (measured 30x slower
    at sf0.1).

    Returns the probe side (aliased ``a``, spread over the default
    parallelism) and the broadcast build side (aliased ``b``), or
    ``None`` when the plan does not apply: a cap is set (the bitmask
    never prunes tokens or postings), the HLL probe sees more than
    ``_BITMASK_MAX_VOCAB`` tokens or ``_BITMASK_MAX_ROWS`` documents,
    the exact vocabulary exceeds 63 tokens (bit 63 would overflow a
    signed long), or the vocabulary is empty."""
    if capped:
        return None
    toks = ts.select("_id", F.explode("_toks").alias("t"))
    stats = toks.agg(F.approx_count_distinct("t").alias("n"),
                     F.approx_count_distinct("_id").alias("docs")
                     ).collect()[0]
    if (stats["n"] > _BITMASK_MAX_VOCAB
            or stats["docs"] > _BITMASK_MAX_ROWS):
        return None
    vocab = sorted(r["t"] for r in toks.select("t").distinct().collect())
    if not vocab or len(vocab) > 63:
        return None
    tok_bit = F.create_map(*[x for i, t in enumerate(vocab)
                             for x in (F.lit(t), F.lit(1 << i))])
    mask = F.aggregate(
        F.transform(F.col("_toks"), lambda t: tok_bit[t]),
        F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b))
    m = ts.select(F.col("_id"), mask.alias("_m"))
    # spread the STREAMED side: a small corpus often arrives as one
    # parquet partition, which would run the whole O(n^2) loop join in
    # a single task — repartitioning the probe side makes the broadcast
    # nested-loop N-way parallel (measured 13s -> ~2s at sf0.1)
    spread = m.sparkSession.sparkContext.defaultParallelism
    return m.repartition(spread).alias("a"), F.broadcast(m.alias("b"))


def _inverted_pair_counts(ts: DataFrame, max_token_df: int | None,
                          max_postings_per_token: int | None,
                          max_candidate_pairs: int | None,
                          op: str) -> DataFrame:
    """General pair plan: explode distinct tokens, drop tokens in more
    than ``max_token_df`` docs, keep the ``max_postings_per_token``
    smallest ids per token, guard the candidate volume, then self-join
    on the token and count. Returns ``(id_a, id_b, _inter, _na, _nb)``
    with ``id_a < id_b``: the intersection counted over the kept
    postings and each side's FULL set size. The size rides each posting
    row (8 bytes) and comes out of the pair aggregation via first() —
    a separate sizes branch would cost a second scan+tokenize pass plus
    two keyed joins against the pair stream."""
    inv = ts.select("_id", F.size("_toks").alias("_n"),
                    F.explode("_toks").alias("_tok"))
    if max_token_df is not None:
        df_counts = (inv.groupBy("_tok")
                     .agg(F.count(F.lit(1)).alias("_df"))
                     .filter(F.col("_df") <= max_token_df))
        inv = inv.join(F.broadcast(df_counts.select("_tok")), "_tok")
    if max_postings_per_token is not None:
        inv = _smallest_k_per_key(inv, ["_tok"], "_id",
                                  max_postings_per_token)
    inv = _cap_candidate_pairs(
        inv, ["_tok"], max_candidate_pairs, op,
        materialize=max_postings_per_token is not None)
    a, b = inv.alias("a"), inv.alias("b")
    return (a.join(b, (F.col("a._tok") == F.col("b._tok")) &
                      (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("_inter"),
                 F.first(F.col("a._n")).alias("_na"),
                 F.first(F.col("b._n")).alias("_nb")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.8,
                        max_token_df: int | None = None,
                        max_postings_per_token: int | None = None,
                        max_candidate_pairs: int | None = 100_000_000,
                        ) -> DataFrame:
    """Exact pairwise Jaccard >= threshold over distinct-token sets,
    as ``(id_a, id_b, jaccard)`` with ``id_a < id_b``. The plan is
    picked from the input and the caps:

    - ``bitmask`` when no cap is set and the corpus is small in both
      vocabulary (<= 58 tokens by HLL, <= 63 exactly) and documents
      (<= 100k): Jaccard = bit_count(a&b)/bit_count(a|b) over a
      broadcast self-join (see ``_bitmask_self_join``). It is O(n²),
      which is why the document bound is enforced.
    - ``prefix`` otherwise, for threshold >= 0.5: prefix-filtered
      all-pairs (Bayardo et al., WWW'07; see ``_jaccard_prefix``).
      Tokens are globally ordered rarest-first, and a pair with
      Jaccard >= t must share a token among each side's FIRST
      ``|A| - floor(t*|A|) + 1`` ordered tokens, so the candidate join
      runs on a small, low-df sliver of the inverted index; candidates
      are then verified exactly via array_intersect.
    - ``inverted`` otherwise (threshold < 0.5, where the prefix sliver
      is too long to pay off): explode -> join on token -> |A∩B| per
      pair, |A∪B| = |A|+|B|-|A∩B|.

    ``max_token_df`` drops tokens appearing in more than that many docs
    from the index and the intersection (sizes stay full-set, so scores
    only shrink) — the stop-token blowup guard; at 100 TB you ALWAYS
    set this, or LSH first and use this only to verify candidates.

    ``max_candidate_pairs`` (default 100M): loud cap on the token-join
    candidate volume (sum over join tokens of C(df, 2)) — computed with
    one linear aggregation BEFORE the quadratic join runs, raising with
    the linear alternatives (minhash_lsh_groups / connected_components)
    named instead of spilling tens of GB hours into a job. ``None``
    opts out.

    ``max_postings_per_token``: deterministically keep only the K
    smallest doc ids per join token (salted two-phase top-k — no hot-key
    single-task window). On the PREFIX path this bounds candidate
    generation only: emitted pairs keep EXACT Jaccard (verification uses
    full token sets); pairs whose every shared prefix token was
    truncated are missed (recall trade, the LSH-hot-bucket contract).
    On the INVERTED path intersections are counted from the truncated
    postings, so scores become a deterministic UNDER-estimate for pairs
    that straddle a truncated posting — a sampled audit, not exact
    scoring.
    """
    ts = _token_sets(df, text_col, id_col)
    bm = _bitmask_self_join(ts, max_token_df is not None
                            or max_postings_per_token is not None)
    if bm is not None:
        a, b = bm
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
        ids = [F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")]
        ab = F.col("a._m").bitwiseAND(F.col("b._m"))
        inter = F.bit_count(ab).cast("double")
        union = F.bit_count(F.col("a._m").bitwiseOR(F.col("b._m")))
    elif threshold >= _PREFIX_MIN_THRESHOLD:
        return _jaccard_prefix(ts, threshold, max_token_df,
                               max_postings_per_token, max_candidate_pairs)
    else:
        pairs = _inverted_pair_counts(
            ts, max_token_df, max_postings_per_token, max_candidate_pairs,
            "ngram_jaccard_pairs(inverted)")
        ids = ["id_a", "id_b"]
        inter = F.col("_inter")
        union = F.col("_na") + F.col("_nb") - F.col("_inter")
    return (pairs.select(*ids, (inter / union).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _jaccard_prefix(ts: DataFrame, threshold: float,
                    max_token_df: int | None,
                    max_postings_per_token: int | None = None,
                    max_candidate_pairs: int | None = None) -> DataFrame:
    """Prefix-filtered exact Jaccard join (Bayardo/Ma/Srikant WWW'07).

    Any pair with Jaccard >= t has |A∩B| >= t·|A| (and >= t·|B|), so if
    each doc's tokens are sorted by a GLOBAL order and only its first
    |A| - floor(t·|A|) + 1 tokens are indexed, the minimal shared token
    of every qualifying pair lands in BOTH prefixes — the candidate
    join touches only that sliver. Ordering by ascending document
    frequency makes prefix tokens the RAREST ones, so candidate buckets
    stay small exactly where the naive token join explodes (stop
    words). floor instead of the tight ceil absorbs float jitter in
    t·|A| — a one-token-longer prefix can only ADD candidates, never
    lose a pair. Candidates (deduped) are verified exactly with
    array_intersect over the sorted kept-token arrays.

    With ``max_token_df``: over-df tokens leave the index AND the
    intersection (same contract as the inverted path — sizes stay
    full-set, so scores only ever shrink)."""
    # full-set size rides each exploded row (8 bytes) and comes back out
    # of the SAME groupBy as the token array — the previous separate
    # sizes branch + join cost a third scan+tokenize pass of the corpus
    # (Spark has no cross-branch common-subplan elimination; the
    # round-10 funnel lesson) plus a keyed join
    if max_postings_per_token is not None:
        # the capped form pays two more whole-plan evaluations than the
        # emit-once form (the eager guard job, and verify joins in a
        # separate action from candidate generation) — pin the two slim
        # corpus-sized intermediates with lazy local checkpoints so
        # tokenize and the docs groupBy each run ONCE per invocation
        ts = ts.localCheckpoint(eager=False)
    inv = ts.select("_id", F.size("_toks").alias("_n"),
                    F.explode("_toks").alias("_tok"))
    dfc = inv.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    if max_token_df is not None:
        dfc = dfc.filter(F.col("_df") <= max_token_df)
    # per-doc kept tokens, globally ordered (df asc, token asc): the
    # struct sort gives every executor the same total order with no
    # global rank window; _n is constant per doc so first() is
    # deterministic
    docs = (inv.join(dfc, "_tok")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_tok")))
                 .alias("_st"),
                 F.first("_n").alias("_n"))
            .select("_id", "_n",
                    F.transform("_st", lambda s: s["_tok"]).alias("_kt")))
    p = F.greatest(
        F.size("_kt") - F.floor(F.lit(threshold) * F.col("_n"))
        .cast("int") + F.lit(1), F.lit(0))
    if max_postings_per_token is not None:
        # capped path: candidate-generation cap only — verification
        # below still uses FULL token sets, so every emitted pair
        # scores exactly; pairs whose shared prefix tokens were all
        # truncated are missed. Dedup must stay a DISTINCT here: the
        # emit-once predicate below reasons over full prefixes, which
        # capping invalidates (the minimal common token may have been
        # truncated from the index while a later one survived).
        #
        # see the ts checkpoint above: the guard job, candidate
        # generation, and the verify joins each consume docs from a
        # different action, and exchange reuse does not cross actions
        docs = docs.localCheckpoint(eager=False)
        pref = docs.select("_id", F.explode(F.slice("_kt", 1, p))
                           .alias("_tok"))
        pref = _smallest_k_per_key(pref, ["_tok"], "_id",
                                   max_postings_per_token)
        pref = _cap_candidate_pairs(pref, ["_tok"], max_candidate_pairs,
                                    "ngram_jaccard_pairs(prefix)",
                                    materialize=True)
        cand = (pref.alias("pa")
                .join(pref.alias("pb"),
                      (F.col("pa._tok") == F.col("pb._tok")) &
                      (F.col("pa._id") < F.col("pb._id")))
                .select(F.col("pa._id").alias("id_a"),
                        F.col("pb._id").alias("id_b"))
                .distinct())
    else:
        # emit-once candidates (Bayardo's dedup refinement): a pair
        # sharing k prefix tokens would leave the token join k times
        # and then pay a candidate-DISTINCT shuffle of k× the pair
        # count — the dominant intermediate on boilerplate-heavy
        # corpora (prefix length × pairs rows; the sf10 disk filler).
        # Instead each side carries its (globally ordered) prefix
        # array and a pair is emitted ONLY from its minimal common
        # prefix token: array_intersect(a_pref, b_pref) preserves the
        # first array's order, so element 1 IS that minimal token — a
        # per-joined-row predicate, no dedup exchange at all. Shuffled
        # rows widen by the prefix array (~(1-t)·|doc| tokens), but
        # the candidate stream shrinks by the multiplicity factor.
        pdocs = docs.select("_id", F.slice("_kt", 1, p).alias("_pref"))
        pref = pdocs.select("_id", "_pref",
                            F.explode("_pref").alias("_tok"))
        _cap_candidate_pairs(pref.select("_id", "_tok"), ["_tok"],
                             max_candidate_pairs,
                             "ngram_jaccard_pairs(prefix)")
        first_common = F.element_at(
            F.array_intersect(F.col("pa._pref"), F.col("pb._pref")), 1)
        cand = (pref.alias("pa")
                .join(pref.alias("pb"),
                      (F.col("pa._tok") == F.col("pb._tok")) &
                      (F.col("pa._id") < F.col("pb._id")) &
                      (first_common == F.col("pa._tok")))
                .select(F.col("pa._id").alias("id_a"),
                        F.col("pb._id").alias("id_b")))
    a = docs.select(F.col("_id").alias("id_a"), F.col("_kt").alias("_ka"),
                    F.col("_n").alias("_na"))
    b = docs.select(F.col("_id").alias("id_b"), F.col("_kt").alias("_kb"),
                    F.col("_n").alias("_nb"))
    inter = F.size(F.array_intersect("_ka", "_kb"))
    jac = inter / (F.col("_na") + F.col("_nb") - inter)
    return (cand.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_consts(num_hashes: int) -> list[int]:
    """Deterministic per-seed 32-bit XOR constants (md5-derived). XOR by
    a constant is a bijection on [0, 2^32), so min over XOR-permuted
    token hashes is a valid independent minhash per seed — ONE md5 per
    token total instead of one per (token, seed): measured 4× faster at
    sf0.1. The same constants are interpolated into the DuckDB oracles
    (cross-engine contract)."""
    import hashlib
    return [int.from_bytes(hashlib.md5(f"seed{s}".encode()).digest()[:4],
                           "big") for s in range(num_hashes)]


def _token_hash(tok_col):
    """Base token hash for minhash: the first 8 hex chars of md5(token)
    as a bigint (DuckDB: ('0x' || substr(md5(tok),1,8))::BIGINT) — the
    cross-engine oracle contract. Every LSH consumer signs with it."""
    return F.conv(F.substring(F.md5(tok_col), 1, 8), 16, 10).cast("bigint")


def minhash_signature_arrays(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id",
                             num_hashes: int = 16) -> DataFrame:
    """(id, sig: array<bigint>) — the whole signature built inside ONE
    map-only projection: per-token base hashes once (``_token_hash``),
    then sig[i] = min over tokens of (base XOR const_i). ZERO shuffles,
    independent of document length; this is the form every minhash
    consumer composes from."""
    from .text import let_bound
    ts = _token_sets(df, text_col, id_col)
    th = F.transform(F.col("_toks"), _token_hash)

    # let_bound the per-token hash array: a withColumn intermediate gets
    # inlined back by ProjectCollapse, so every one of the num_hashes
    # array_min branches would re-run md5+conv over every token —
    # measured 3x the whole signature cost at sf1. As a lambda variable
    # the hashes are computed ONCE per row.
    def body(h):
        # NOTE: inner lambdas must stay single-parameter — F.transform
        # treats a 2-arg lambda as (element, index)
        return F.array(*[
            F.array_min(F.transform(h, lambda x: x.bitwiseXOR(F.lit(c))))
            for c in minhash_consts(num_hashes)])

    sig = let_bound(th, body)
    return ts.select(F.col("_id").alias(id_col), sig.alias("sig"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_hashes: int = 16) -> DataFrame:
    """(id, seed, minhash) long form — a posexplode of the array form;
    still map-only (the reference point for the DuckDB oracle)."""
    arr = minhash_signature_arrays(df, text_col, id_col, num_hashes)
    return arr.select(
        id_col,
        F.posexplode("sig").alias("seed", "minhash"))


def _banded_arrays(df: DataFrame, text_col: str, id_col: str,
                   num_hashes: int, bands: int,
                   sigs: DataFrame | None = None) -> DataFrame:
    """(id, _bhs: array of ALL band hashes) via array slicing of the
    one-projection signature — map-only. Band ``i``'s hash is a single
    xxhash64 bigint over (i, slice) — an 8-byte join key instead of a
    32-char md5 string (string-compare joins were the LSH hot spot).

    ``sigs``: the (id_col, sig) ``minhash_signature_arrays`` table that
    the caller built in the same call with the SAME ``num_hashes``
    (``minhash_lsh_pairs`` passes its canonical one); signed from
    ``df`` when omitted."""
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signature_arrays(df, text_col, id_col, num_hashes)
    bhs = F.array(*[
        F.xxhash64(F.lit(i), F.concat_ws(",", F.slice(
            F.col("sig"), i * rows_per_band + 1, rows_per_band)))
        for i in range(bands)])
    return sigs.select(F.col(id_col), bhs.alias("_bhs"))


def _banded(df: DataFrame, text_col: str, id_col: str, num_hashes: int,
            bands: int) -> DataFrame:
    """(id, band, band_hash): one row per band per doc, a posexplode of
    ``_banded_arrays`` — still map-only, and the band hash has one
    definition (the persisted ``lsh_bucket_state`` rows are these)."""
    return (_banded_arrays(df, text_col, id_col, num_hashes, bands)
            .select(id_col, F.posexplode("_bhs").alias("band", "band_hash")))


def _bucket_mins(banded: DataFrame, id_col: str,
                 max_bucket_size: int | None) -> DataFrame:
    """(id, _min) per banded row: ``_min`` is the smallest id in the
    row's (band, band_hash) bucket — or the row's own id when the bucket
    holds more than ``max_bucket_size`` DISTINCT ids (duplicate input
    ids count once, so the cap agrees with ``minhash_lsh_pairs``'s).

    The one plan of the cluster family: one exchange on the bucket key
    and one window over it. No task builds a bucket as an array — the
    window streams a hot bucket through Spark's spillable row buffer —
    so a 100M-doc boilerplate bucket costs rows, not one 100M-element
    list in one task, with or without a cap."""
    w = Window.partitionBy("band", "band_hash")
    mn = F.min(id_col).over(w)
    if max_bucket_size is not None:
        # window functions do not nest: rank first, then its bucket max
        banded = banded.withColumn(
            "_r", F.dense_rank().over(w.orderBy(id_col)))
        mn = F.when(F.max("_r").over(w) <= max_bucket_size,
                    mn).otherwise(F.col(id_col))
    return banded.select(id_col, mn.alias("_min"))


def minhash_lsh_star_edges(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4,
                           max_bucket_size: int | None = None
                           ) -> DataFrame:
    """Linear-size connectivity SKELETON of the LSH candidate graph: per
    bucket, the star (bucket_min, member) instead of the full clique. A
    bucket's clique and its star have the SAME transitive closure, so
    ``connected_components`` over these edges yields exactly the clusters
    of ``minhash_lsh_pairs`` (same cap ⇒ same edge universe) — with
    O(|bucket|) edges instead of O(|bucket|²). At 100 TB this is the
    input you feed the components loop: a duplicate cluster of k docs
    costs k-1 edges, not k(k-1)/2. Without a cap every bucket, however
    hot, contributes its star (``_bucket_mins`` keeps task memory
    bounded either way). Pinned equal-closure in tests/test_pipeline.py."""
    mins = _bucket_mins(_banded(df, text_col, id_col, num_hashes, bands),
                        id_col, max_bucket_size)
    return (mins.filter(F.col("_min") != F.col(id_col))
            .select(F.col("_min").alias("id_a"), F.col(id_col).alias("id_b"))
            .distinct())


def _canonical_sigs(df: DataFrame, text_col: str, id_col: str,
                    num_hashes: int) -> DataFrame:
    """One canonical signature row per id: the lexicographically-min
    ``sig`` array (partial-agg min, one narrow exchange — the exchange
    ``dropDuplicates([id])`` paid anyway, made deterministic). Ids are
    expected to uniquely identify text; when they don't, every branch
    derived from this frame (the bucket counts, the masked arrays, pair
    emission) agrees on WHICH row represents the id."""
    return (minhash_signature_arrays(df, text_col, id_col, num_hashes)
            .groupBy(id_col).agg(F.min("sig").alias("sig")))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4,
                      max_bucket_size: int | None = None) -> DataFrame:
    """Banded-LSH candidate pairs: signature -> band hashes -> bucket
    self-join on (band, band_hash). Recall/precision tuned by
    (bands, rows-per-band); candidates should be verified with
    ``ngram_jaccard_pairs`` on the candidate subset.

    ``max_bucket_size``: skip buckets larger than this — the hot-bucket
    guard. A bucket with k docs emits k² pairs; one degenerate bucket
    (boilerplate, empty docs) can dominate the whole job. Oversized
    buckets ARE near-duplicate clusters — enumerate them linearly with
    ``minhash_lsh_groups`` instead of quadratically here. At 100 TB you
    always set this.

    Emit-once dedup (same move as the jaccard prefix path): a pair that
    collides in k bands would leave the bucket explode k times and then
    pay a DISTINCT exchange of the whole quadratic pair stream —
    measured sf10: 21.6M raw pairs for 21.0M distinct, with the distinct
    costing more than the candidate generation itself. Instead each
    bucket member carries its full band-hash array and a pair is emitted
    ONLY from the first band where it collides in a SURVIVING bucket, so
    the pair stream never crosses an exchange.

    With a cap, one window counts each (band, band_hash) bucket (the
    ``_bucket_mins`` shape), an oversized bucket's hash is set to NULL
    in its members' rows, and one ``groupBy(id)`` rebuilds the masked
    hash arrays; NULL rows never reach the bucket ``collect_list``, so
    no task builds an oversized bucket's member array. A pair that
    collides in band i shares that bucket, so both of its band-i hashes
    are masked or neither is: "collided earlier in a kept bucket" is
    plain equality over the masked arrays. The plan is lazy — building
    it runs no Spark job. Without a cap the arrays are not masked (two
    exchanges: the id canonicalization and the bucket aggregate).

    Duplicate ids: ids are expected to uniquely identify text. If an id
    appears on rows with DIFFERENT texts, exactly one signature per id
    is kept — deterministically the lexicographically smallest ``sig``
    array — so the bucket counts and the pair emission see the same
    canonical row (a plain ``dropDuplicates`` could keep different
    rows in different branches). Pair-set equality with a DISTINCT
    bucket self-join is pinned in tests/test_pipeline.py."""
    sigs = _canonical_sigs(df, text_col, id_col, num_hashes)
    # id-dedup happened at the SIGNATURE level (one narrow exchange in
    # _canonical_sigs), NOT array_distinct on the collected member
    # array: array_distinct/array_sort over structs with nested arrays
    # fall back to O(k²) deep comparisons — measured 166s (vs 2.6s) at
    # sf10, all of it in the oversized boilerplate buckets. Deduped
    # input + least/greatest pair orientation below need neither.
    arr = _banded_arrays(df, text_col, id_col, num_hashes, bands,
                         sigs=sigs)

    def explode(a):
        return a.select(id_col, "_bhs",
                        F.posexplode("_bhs").alias("band", "band_hash"))

    banded = explode(arr)
    if max_bucket_size is not None:
        # one row per id after _canonical_sigs: the row count IS the
        # bucket's distinct-id count
        size = F.count(F.lit(1)).over(Window.partitionBy("band",
                                                         "band_hash"))
        masked = banded.select(id_col, "band", F.when(
            size <= max_bucket_size, F.col("band_hash")).alias("_h"))
        arr = masked.groupBy(id_col).agg(F.array(*[
            F.max(F.when(F.col("band") == i, F.col("_h")))
            for i in range(bands)]).alias("_bhs"))
        banded = explode(arr).filter(F.col("band_hash").isNotNull())
    buckets = (banded.groupBy("band", "band_hash")
               .agg(F.collect_list(
                   F.struct(F.col(id_col).alias("_i"),
                            F.col("_bhs").alias("_h"))).alias("_m")))

    def seen_earlier(xh, yh):
        # collided in a kept bucket of any band strictly before this one
        # (a masked hash is NULL on both sides of a shared bucket)
        return F.when(F.col("band") > 0, F.exists(
            F.sequence(F.lit(1), F.col("band")),
            lambda i: F.coalesce(F.element_at(xh, i) == F.element_at(yh, i),
                                 F.lit(False)))
        ).otherwise(F.lit(False))

    m = F.col("_m")
    n = F.size(m)
    pair_arrays = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.filter(
            F.transform(
                F.slice(m, i + 1, F.greatest(n - i, F.lit(0))),
                lambda y: F.struct(
                    F.least(F.element_at(m, i)["_i"],
                            y["_i"]).alias("id_a"),
                    F.greatest(F.element_at(m, i)["_i"],
                               y["_i"]).alias("id_b"),
                    seen_earlier(F.element_at(m, i)["_h"],
                                 y["_h"]).alias("_dup"))),
            lambda s: ~s["_dup"])))
    return (buckets.filter(n >= 2)
            .select(F.explode(pair_arrays).alias("_p"))
            .select(F.col("_p.id_a"), F.col("_p.id_b")))


def minhash_lsh_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       bands: int = 4,
                       max_bucket_size: int | None = None) -> DataFrame:
    """Scale-path LSH dedup output: (doc_id, cluster_id) with cluster_id =
    the smallest doc id sharing any LSH bucket — LINEAR output size,
    unlike the pair list which is quadratic inside each duplicate group.
    (One min-propagation round: exact for transitive-via-shared-bucket
    clusters, which covers identical and near-identical documents; chains
    longer than one hop need iterating.)

    Every doc appears once: a doc whose every bucket is over the cap
    keeps its own id (a singleton cluster). The cap is the bucket
    universe of capped ``minhash_lsh_pairs`` — REQUIRED when these
    groups seed ``connected_components`` over the capped pairs (an
    uncapped bucket-min could label a node with an id it has no edge
    to)."""
    mins = _bucket_mins(_banded(df, text_col, id_col, num_hashes, bands),
                        id_col, max_bucket_size)
    return mins.groupBy(id_col).agg(F.min("_min").alias("cluster_id"))


def minhash_lsh_components(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4,
                           max_bucket_size: int | None = None,
                           max_iterations: int = 20) -> DataFrame:
    """Exact LSH duplicate clusters end-to-end: the star-edge skeleton
    (``minhash_lsh_star_edges``) into ``connected_components``, seeded
    with the groups' labels (node -> min bucket-min,
    ``minhash_lsh_groups``). Both come from the same bucket-min window,
    so every seed has a star edge and the union-find fast path — which
    never reads the seed — stays exact. The distributed loop starts
    within ~1 hop of the fixpoint, so it almost always runs a single
    convergence round — versus ~log(diameter) rounds unseeded, each a
    multi-join job. At 100 TB the bucket window is the only heavy
    shuffle; everything after is linear in |docs| + |edges|."""
    kw = dict(text_col=text_col, id_col=id_col, num_hashes=num_hashes,
              bands=bands, max_bucket_size=max_bucket_size)
    seed = minhash_lsh_groups(df, **kw).select(
        F.col(id_col).alias("node"), F.col("cluster_id").alias("component"))
    return connected_components(minhash_lsh_star_edges(df, **kw),
                                initial=seed,
                                max_iterations=max_iterations,
                                seeds_from_edges=True)


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document via an Arrow pandas UDF (numpy
    bit-count over token-hash sign vectors). Pure projection — the UDF is
    the right tool here because 64 per-bit aggregations as native exprs
    would bloat codegen far past the Arrow transfer cost."""
    import hashlib

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        # token -> ±1 bit vector memo: corpora have vocabulary ≪ token
        # occurrences, so each distinct token pays its md5 ONCE per
        # python worker instead of once per containing document
        memo: dict = {}
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                continue
            acc = np.zeros(64, dtype=np.int64)
            for tok in set(t.split(" ")):
                sign = memo.get(tok)
                if sign is None:
                    digest = hashlib.md5(tok.encode()).digest()[:8]
                    bits = np.unpackbits(
                        np.frombuffer(digest, dtype=np.uint8))
                    sign = bits.astype(np.int64) * 2 - 1
                    memo[tok] = sign
                acc += sign
            fp_bytes = np.packbits((acc > 0).astype(np.uint8)).tobytes()
            out[i] = int.from_bytes(fp_bytes, "big", signed=True)
        return pd.Series(out)

    return df.select(F.col(id_col), _simhash(F.col(text_col))
                     .alias("simhash"))


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_hamming: int = 3,
                          max_candidate_pairs: int | None = 100_000_000,
                          max_docs_per_bucket: int | None = None,
                          ) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k, using the standard
    block-permutation trick: split 64 bits into (k+1) blocks — any pair
    within distance k agrees on >=1 whole block -> join per block, then
    verify exact Hamming via bit_count(xor).

    ``max_candidate_pairs`` (default 100M): loud pre-join cap on the
    block-bucket candidate volume (sum over (block, value) buckets of
    C(n, 2); near-dup CLIQUES make both candidates and true output
    quadratic in clique depth — 346M pairs at sf10). The guard is one
    linear aggregation over the checkpointed fingerprints; it raises
    naming the linear cluster-membership alternatives
    (minhash_lsh_groups / connected_components). ``None`` opts out.

    ``max_docs_per_bucket``: the bounded-at-any-scale form — each
    (block, value) bucket keeps only its ``k`` smallest doc ids
    (deterministic salted two-phase truncation, no hot-key window), so
    candidate volume is capped at C(k, 2) per bucket regardless of
    clique depth. Emitted pairs still verify EXACT Hamming; the cap
    trades recall only (pairs both of whose members fall outside every
    shared surviving bucket are missed). With truncation the
    first-agreeing-block emit-once trick is unsound — a pair's first
    agreeing block may have lost one member to the cap while a later
    block kept both — so the capped path emits from every surviving
    agreeing bucket and dedups with a distinct (bounded by
    construction, so the extra shuffle is capped too)."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    # pin the fingerprints: |docs| x 16 bytes (tiny at any scale) —
    # without it the guard job and each side of the self-join re-run
    # the expensive SimHash Arrow UDF
    fps = simhash_fingerprints(df, text_col, id_col).localCheckpoint(
        eager=False)
    # one posexplode over an array of block slices — the simhash UDF is
    # evaluated ONCE per row (a union of per-block selects would re-run
    # the Arrow UDF in every branch: (k+1)x the python cost)
    block_vals = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), i * width)
         .bitwiseAND(F.lit((1 << width) - 1)) for i in range(n_blocks)])
    cand = fps.select(
        id_col, "simhash",
        F.posexplode(block_vals).alias("block", "block_val"))
    if max_docs_per_bucket is not None:
        cand = _smallest_k_per_key(cand, ["block", "block_val"],
                                   id_col, max_docs_per_bucket)
    # guard shares the checkpointed fingerprints: one cheap keyed count
    # over |docs| x (k+1) rows, not a recompute of the simhash UDF
    # (post-truncation when capped, so the bounded form passes it);
    # the capped path also checkpoints the truncated buckets so the
    # salted top-k isn't re-run under the self-join
    cand = _cap_candidate_pairs(
        cand, ["block", "block_val"], max_candidate_pairs,
        "simhash_neardup_pairs",
        materialize=max_docs_per_bucket is not None)
    # Chunked self-join (round 10): pair volume per (block, value)
    # bucket is C(n, 2) — quadratic in rows while the bucket's BYTE
    # size stays linear, so AQE's byte-based skew split never fires
    # and one boilerplate bucket serializes the whole join into a
    # single straggler task (sf1 profile: top bucket 12,239 docs =
    # 75M of the 153M candidate pairs; simhash_pairs 46s with the
    # fingerprints themselves at 1.6s). Split each bucket into
    # ceil(n/CHUNK) chunks: the left side keeps its hash-assigned
    # chunk, the right side replicates one row per chunk (extra rows
    # ~= sum n^2/CHUNK — hundreds of thousands, not millions), and
    # the chunk id joins as an equality key, so a size-n bucket's
    # pair evaluation spreads over n/CHUNK tasks instead of one.
    # Every unordered pair still meets exactly once (the right
    # replica in the left row's chunk), so the emitted set — and the
    # first-agreeing-block / exact-Hamming semantics — are unchanged.
    CHUNK = 256
    sizes = (cand.groupBy("block", "block_val")
             .agg(F.count(F.lit(1)).alias("_bn"))
             .select("block", "block_val",
                     F.ceil(F.col("_bn") / CHUNK).cast("int").alias("_m")))
    cand = cand.join(F.broadcast(sizes), ["block", "block_val"])
    a = (cand.withColumn(
            "_ck", F.pmod(F.xxhash64(F.col(id_col), F.lit("sh-chunk")),
                          F.col("_m")).cast("int"))
         .drop("_m").alias("a"))
    b = (cand.withColumn(
            "_ck", F.explode(F.sequence(F.lit(0), F.col("_m") - 1)))
         .drop("_m").alias("b"))
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    # a pair can agree on up to k+1 blocks; emit it ONLY from its FIRST
    # agreeing block so each pair leaves the join exactly once — a
    # per-joined-row integer predicate instead of a distinct that would
    # shuffle every multiplicity. Block j agrees iff block j of the XOR
    # is all-zero, so "first" = lowest zero block of xor — a WHEN chain
    # of shift/mask tests, pure codegen, no allocation. The Hamming
    # verify also runs INSIDE the join: random same-block collisions
    # between unrelated docs die per joined row, never shuffled.
    mask = F.lit((1 << width) - 1)
    cond = ((F.col("a.block") == F.col("b.block")) &
            (F.col("a.block_val") == F.col("b.block_val")) &
            (F.col("a._ck") == F.col("b._ck")) &
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) &
            (hamming <= max_hamming))
    if max_docs_per_bucket is None:
        first_block = F.coalesce(*[
            F.when(F.shiftrightunsigned(xor, j * width)
                    .bitwiseAND(mask) == 0, F.lit(j))
            for j in range(n_blocks)], F.lit(-1))
        cond = cond & (F.col("a.block") == first_block)
    # shuffle_hash, NOT broadcast: the planner sees a byte-tiny build
    # side and broadcasts it, which leaves probe parallelism at the
    # LEFT side's incoming partition count (the fingerprint scan's file
    # splits — 2 at sf1) and throws away the chunk key entirely; the
    # quadratic probe work then serializes into those few tasks
    # (measured sf1: 97s broadcast vs 21s shuffled, from 47s for the
    # pre-chunking single-straggler sort-merge). A shuffled hash
    # join partitions BOTH sides by (block, block_val, _ck), so each
    # mega-bucket's pair evaluation actually lands on its n/CHUNK
    # separate tasks.
    out = (a.hint("shuffle_hash").join(b, cond)
           .select(F.col(f"a.{id_col}").alias("id_a"),
                   F.col(f"b.{id_col}").alias("id_b"),
                   hamming.alias("hamming")))
    # capped path: a pair can surface from several surviving buckets;
    # the distinct's input is <= C(max_docs_per_bucket, 2) per bucket
    return out.distinct() if max_docs_per_bucket is not None else out


def embedding_neardup_pairs(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            threshold: float = 0.95,
                            block_col: str | None = None) -> DataFrame:
    """Cosine >= threshold pairs. Exact self-join (optionally blocked on
    ``block_col`` to cut the pair space); the approximate scale path is
    ``similarity.lsh_neardup_pairs``. A pair with a zero vector scores
    cosine 0, as the BLAS kernel's floored unit rows do."""
    from .similarity import dot_expr, with_norm
    v = with_norm(
        df.select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v0"),
                  *([F.col(block_col).alias("_blk")] if block_col else [])),
        F.col("_v0"), "_v", "_n").drop("_v0")
    a, b = v.alias("a"), v.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    den = F.col("a._n") * F.col("b._n")
    cos = F.when(den == 0, F.lit(0.0)).otherwise(
        dot_expr(F.col("a._v"), F.col("b._v")) / den)
    return (a.join(F.broadcast(b), cond)
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     F.round(cos, 6).alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def decontaminate(df: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str | None = None,
                  method: str = "fingerprint") -> DataFrame:
    """Remove training documents that collide with a benchmark/eval set
    (test-set decontamination). ``method``:

    - ``'exact'``: md5 of the raw text;
    - ``'fingerprint'``: sorted-distinct-token-set fingerprint (robust to
      token order / duplicated whitespace tokens);
    - ``'ngram'``: ANY shared 13-token shingle (the common n-gram
      decontamination rule) — fan-out |doc| shingles per side, one
      equality anti-join on the shingle hash.

    Plan shape: build the benchmark key set (typically tiny — eval sets
    are thousands of rows, so Spark/AQE broadcasts it), then ONE
    ``left_anti`` join. No pair enumeration, no driver collect; at 100 TB
    the cost is the corpus scan plus a broadcast-hash anti-join."""
    from .text import fingerprint, shingle_rows
    bcol = bench_text_col or text_col
    if method == "exact":
        keyed = df.withColumn("_k", F.md5(F.col(text_col)))
        bkeys = benchmark.select(F.md5(F.col(bcol)).alias("_k")).distinct()
        return keyed.join(F.broadcast(bkeys), "_k", "left_anti").drop("_k")
    if method == "fingerprint":
        keyed = df.withColumn("_k", fingerprint(text_col))
        bkeys = (benchmark.select(fingerprint(bcol).alias("_k"))
                 .distinct())
        return keyed.join(F.broadcast(bkeys), "_k", "left_anti").drop("_k")
    if method == "ngram":
        bkeys = shingle_rows(benchmark, bcol, 13).distinct()
        hit = (shingle_rows(df, text_col, 13, [id_col])
               .join(F.broadcast(bkeys), "_k", "left_semi")
               .select(id_col).distinct())
        return df.join(hit, id_col, "left_anti")
    raise ValueError(f"unknown method {method!r}")


def _components_unionfind(edge_rows) -> dict:
    """Exact driver-side union-find (path halving + union by label):
    node -> min reachable node id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union toward the smaller id so the root IS the min label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


# connected_components: largest edge list solved by the driver union-find
_SMALL_GRAPH_EDGES = 2_000_000


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 20,
                         initial: DataFrame | None = None,
                         seeds_from_edges: bool = False) -> DataFrame:
    """Exact duplicate clusters from a pair list: iterative min-label
    propagation to a fixpoint (the transitive closure one-round
    ``minhash_lsh_groups`` approximates). Genuinely iterative — each round
    is one join + one groupBy; rounds needed = graph diameter in
    min-label hops (log-ish for typical dup clusters).

    ADAPTIVE physical strategy: after dedup pruning (LSH buckets emit
    star edges, not cliques) the edge list is often tiny relative to the
    corpus — when it fits ``_SMALL_GRAPH_EDGES`` rows, an exact
    driver-side union-find replaces the iterative loop: one collect of
    the (already checkpointed, already distinct) edges versus
    ~log(diameter) multi-join rounds, each a full Spark job. 2M edges
    ≈ tens of MB on the driver. Results are identical on both paths
    (tests pin it by setting the constant to 0, which forces the
    distributed loop).

    ``initial``: optional seed labels with columns (node, component) —
    e.g. ``minhash_lsh_groups(...).withColumnRenamed("doc_id", "node")
    .withColumnRenamed("cluster_id", "component")`` — cutting rounds to
    ~1-2 when the seed is already near the fixpoint. The seed MUST come
    from the same edge universe (same bucket-size cap) or labels may
    cite unreachable nodes.

    ``seeds_from_edges=True`` is the caller's assertion that every seed
    COMPONENT VALUE is itself a node of ``pairs`` reachable from the
    seeded node (true for LSH bucket minima: each (node, bucket_min)
    seed has a matching star edge). Under that assertion the seeds
    cannot change the fixpoint — the component min already beats or
    equals every seed — so the union-find fast path (which never looks
    at ``initial``) stays EXACT and small graphs keep the single-collect
    physical plan. Foreign seeds (default False) force the distributed
    loop, where seeding is part of the semantics.

    Returns (node, component) with component = min node id reachable.
    Nodes appearing in NO pair are absent from the output — treat a
    missing id as its own singleton component."""
    edges = (pairs.select(F.col(id_a).alias("src"),
                          F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct()
             # reused by the probe and every iteration — compute once
             .localCheckpoint(eager=False))
    if _SMALL_GRAPH_EDGES and (initial is None or seeds_from_edges):
        # limit-probe: costs one job over the checkpointed edges and
        # never materializes more than threshold+1 rows on the driver.
        # Skipped when FOREIGN seed labels are supplied: the union-find
        # only sees the edge list, so a seed from a different edge
        # universe would yield labels that depend on which physical path
        # ran (seeds_from_edges callers assert same-universe seeds).
        probe = edges.limit(_SMALL_GRAPH_EDGES + 1).count()
        if probe <= _SMALL_GRAPH_EDGES:
            et = edges.toArrow()
            comp = _components_unionfind(
                zip(et["src"].to_pylist(), et["dst"].to_pylist()))
            # an Arrow table enters Spark as a local relation: no
            # pickled RDD, no Python worker
            out = pa.table({"node": pa.array(list(comp), et["src"].type),
                            "component": pa.array(list(comp.values()),
                                                  et["src"].type)})
            return pairs.sparkSession.createDataFrame(
                out, schema=pairs.select(
                    F.col(id_a).alias("node"),
                    F.col(id_a).alias("component")).schema)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    if initial is not None:
        labels = (nodes.join(initial.select(
            F.col("node"), F.col("component").alias("_seed")),
            "node", "left")
            .select("node", F.coalesce(F.least("_seed", "node"),
                                       F.col("node")).alias("component"))
            .localCheckpoint())
    else:
        labels = (nodes.withColumn("component", F.col("node"))
                  .localCheckpoint())  # truncate lineage at the loop entry
    for _ in range(max_iterations):
        neighbor_min = (edges.join(labels,
                                   edges.dst == labels.node)
                        .groupBy("src")
                        .agg(F.min("component").alias("_nmin")))
        stepped = (labels.join(neighbor_min,
                               labels.node == neighbor_min.src,
                               "left")
                   .select(F.col("node"),
                           F.col("component").alias("_prev"),
                           F.least(F.col("component"),
                                   F.coalesce(F.col("_nmin"),
                                              F.col("component")))
                           .alias("component")))
        # pointer jumping: component := label-of-my-label. Plain
        # min-propagation needs rounds equal to each node's hop
        # distance from the component minimum; the extra self-join
        # halves the remaining distance every round -> O(log diameter)
        lab2 = stepped.select(F.col("node").alias("_n2"),
                              F.col("component").alias("_c2"))
        new_labels = (stepped.join(
            lab2, stepped.component == lab2._n2, "left")
            .select(F.col("node"), F.col("_prev"),
                    F.least(F.col("component"),
                            F.coalesce(F.col("_c2"),
                                       F.col("component")))
                    .alias("component"))
            # truncate lineage EVERY round — without this each
            # iteration replays the whole upstream plan (LSH,
            # signatures, ...) and the job goes exponential. Lazy:
            # the changed-count agg below materializes it, so the
            # round is ONE job (convergence probe folded in, not a
            # separate join+count job as before)
            .localCheckpoint(eager=False))
        changed = new_labels.agg(
            F.sum((F.col("component") != F.col("_prev"))
                  .cast("long"))).first()[0]
        labels = new_labels.drop("_prev")
        if not changed:
            return labels
    # a silently non-converged result is indistinguishable from a
    # correct one — fail loudly instead
    raise RuntimeError(
        f"connected_components did not converge in "
        f"{max_iterations} iterations; raise max_iterations")


def dedup_keep_best(df: DataFrame, quality: Column | str | None = None,
                    id_col: str = "doc_id", text_col: str = "text",
                    num_hashes: int = 16, bands: int = 2,
                    max_bucket_size: int | None = 500) -> DataFrame:
    """Near-dup dedup that KEEPS the best document of every duplicate
    cluster (instead of an arbitrary one): LSH groups -> per-cluster
    argmax of ``quality`` (default: text length) with id tie-break.
    Docs outside any bucket form singleton clusters and always survive.

    This is the last step of the dedup ladder (SCALE.md): linear
    (doc, cluster) labels from ``minhash_lsh_groups``, one broadcast-able
    join back to the corpus, one ``row_number`` window partitioned by
    cluster (bounded groups — cluster size <= bucket cap). Returns the
    surviving rows with their ``cluster_id`` and the quality value used.
    """
    q = (F.length(F.col(text_col)) if quality is None
         else (F.col(quality) if isinstance(quality, str) else quality))
    groups = minhash_lsh_groups(df, id_col=id_col, text_col=text_col,
                                num_hashes=num_hashes, bands=bands,
                                max_bucket_size=max_bucket_size)
    lab = (df.join(groups, id_col, "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col(id_col)))
           .withColumn("_q", q))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_q"), F.asc(id_col))
    return (lab.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumnRenamed("_q", "quality"))


def decontaminate_bloom(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str | None = None,
                        m_bits: int = 1 << 22, k: int = 5) -> DataFrame:
    """Decontamination for benchmark sets too large to broadcast as an
    exact key list: Bloom-filter prefilter + exact verification of the
    maybe-set. Result is IDENTICAL to ``decontaminate(method=
    'fingerprint')`` — Bloom has no false negatives, so every true
    collision reaches the exact join, and the exact join discards the
    false positives. At 100 TB the corpus-side cost is one scan + a
    broadcast word-table probe; the exact join's build side shrinks from
    |benchmark| to |maybe-set|."""
    from ..operators.bloom import bloom_build, bloom_probe_col
    from .text import fingerprint
    bcol = bench_text_col or text_col
    keyed = df.withColumn("_k", fingerprint(text_col))
    bkeys = benchmark.select(fingerprint(bcol).alias("_k")).distinct()
    bloom = bloom_build(bkeys, "_k", m_bits=m_bits, k=k)
    probed = bloom_probe_col(keyed, "_k", bloom, m_bits=m_bits, k=k)
    # definite non-members pass straight through; maybe-members get the
    # exact anti-join (its build side is only the true benchmark keys,
    # but its PROBE side is now the small maybe-set)
    clean = probed.filter(~F.col("_maybe")).drop("_maybe", "_k")
    maybe = probed.filter(F.col("_maybe")).drop("_maybe")
    verified = (maybe.join(F.broadcast(bkeys), "_k", "left_anti")
                .drop("_k"))
    return clean.unionByName(verified)


def lsh_bucket_state(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", num_hashes: int = 16,
                     bands: int = 2) -> DataFrame:
    """The persistable LSH state for a growing corpus: one (id, band,
    band_hash) row per band per doc. Store it next to the corpus
    (bucketed by band_hash for exchange-free probe joins); a new crawl
    batch only ever computes ITS OWN signatures."""
    return _banded(df, text_col, id_col, num_hashes, bands)


def lsh_incremental_matches(state: DataFrame, new_docs: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            num_hashes: int = 16, bands: int = 2,
                            max_bucket_size: int | None = None
                            ) -> DataFrame:
    """Incremental near-dup dedup — the daily-crawl pattern: band the
    NEW batch only (map-side), join it against the stored bucket state
    on (band, band_hash), and report (doc_id, match_id) pairs of new
    docs that collide with an existing doc. The old corpus is never
    re-signed and never re-scanned beyond the state table; cost is
    |batch| signatures + one join whose build side is the (pre-bucketed)
    state. Typical use: drop matched new docs, then union the survivors'
    banded rows into the state (plain append — the state is just rows).

    ``max_bucket_size``: the hot-bucket guard, counted in STATE docs
    per bucket. A degenerate boilerplate bucket with k accepted docs
    would emit k rows per colliding new doc (measured at sf10: the
    unguarded join explodes past 1e9 rows); an oversized bucket IS a
    near-duplicate cluster, so any new doc hitting one is reported
    against the cluster's representative only — the MINIMUM accepted
    id in the bucket — keeping output linear in |batch| regardless of
    cluster size. The match VERDICT (which new docs collide) is
    identical to the unguarded form; only the per-match fan-out is
    collapsed. At 100 TB you always set this.

    Returns distinct (new id, existing id) collision pairs; a new doc
    absent from the output has no bucket collision with the old corpus.
    """
    new_banded = _banded(new_docs, text_col, id_col, num_hashes, bands)
    old = state.select(F.col(id_col).alias("_old_id"), "band",
                       "band_hash")
    if max_bucket_size is None:
        return (new_banded.join(old, ["band", "band_hash"])
                .select(id_col, F.col("_old_id").alias("match_id"))
                .distinct())
    stats = (old.groupBy("band", "band_hash")
             .agg(F.count(F.lit(1)).alias("_k"),
                  F.min("_old_id").alias("_rep")))
    small = old.join(stats.filter(F.col("_k") <= max_bucket_size)
                     .select("band", "band_hash"),
                     ["band", "band_hash"])
    pairs_small = (new_banded.join(small, ["band", "band_hash"])
                   .select(id_col, F.col("_old_id").alias("match_id")))
    pairs_big = (new_banded.join(
        stats.filter(F.col("_k") > max_bucket_size)
        .select("band", "band_hash", "_rep"), ["band", "band_hash"])
        .select(id_col, F.col("_rep").alias("match_id")))
    return pairs_small.unionByName(pairs_big).distinct()


# ---------------------------------------------------------------------------
# Passage-level dedup (CCNet-style, at fixed-token-window granularity)
# ---------------------------------------------------------------------------

def passage_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  passage_tokens: int = 32) -> DataFrame:
    """Sub-document deduplication at passage granularity — the CCNet /
    RefinedWeb pattern where the dedup unit is a paragraph, generalized
    here to fixed ``passage_tokens``-token windows (the synthetic corpus
    has no newlines; swap the splitter for ``split(text, '\\n\\n')`` on
    real text without touching the rest of the plan).

    A passage is kept iff it is the globally FIRST occurrence of its
    content hash, first = smallest (doc id, passage index) — a total
    order, so the result is deterministic under any partitioning. Docs
    are then reassembled from their surviving passages in order.

    Plan shape (the 100 TB story): tokenize + window-slice is a pure
    projection (no explode until the passage rows are needed); ONE hash
    exchange on the passage hash decides winners (``min(struct(id,
    idx)) OVER (PARTITION BY hash)`` — map-side partial min, shuffled
    bytes ~ |distinct passages|); ONE exchange on the doc id reassembles
    survivors. No self-join, no driver state; both exchanges are on
    key-grouped rows, so AQE skew-splitting handles a pathological
    passage (e.g. the empty string) transparently.

    Returns (id_col, n_passages, n_kept, clean_text) — ``clean_text``
    is the space-joined surviving passages ('' when everything was a
    duplicate).
    """
    from pyspark.sql import Window
    from .text import let_bound, tokens

    k = int(passage_tokens)

    def body(tk):
        n_pass = F.ceil(F.size(tk) / F.lit(float(k))).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n_pass - 1, F.lit(0)))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(tk, i * k + 1, k)))

    passages = let_bound(tokens(text_col), body)

    p = (df.select(F.col(id_col), F.posexplode(passages)
                   .alias("_idx", "_passage"))
         .withColumn("_h", F.md5("_passage")))
    w = Window.partitionBy("_h")
    first = F.min(F.struct(F.col(id_col), F.col("_idx"))).over(w)
    kept = (first[id_col] == F.col(id_col)) & (first["_idx"] == F.col("_idx"))
    return (p.withColumn("_keep", kept)
            .groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_passages"),
                 F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
                 F.concat_ws(" ", F.array_sort(F.collect_list(
                     F.when(F.col("_keep"),
                            F.struct("_idx", "_passage"))))
                     .getField("_passage")).alias("clean_text")))


# ---------------------------------------------------------------------------
# Graded n-gram contamination report (benchmark overlap fraction)
# ---------------------------------------------------------------------------

def ngram_contamination(df: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str | None = None,
                        n: int = 13) -> DataFrame:
    """Per-document benchmark-overlap score: the fraction of the doc's
    DISTINCT n-token shingles that appear anywhere in the benchmark set
    (the graded variant of ``decontaminate(method='ngram')`` — report
    and threshold instead of hard-dropping on any single collision,
    the convention used for contamination audits of training corpora).

    Plan shape: benchmark shingle hashes are distinct-ed and BROADCAST
    (eval sets are thousands of docs — tiny next to a 100 TB corpus);
    each training doc's distinct shingles explode to rows, the matched
    count comes from a broadcast left-semi-style flag + ONE groupBy on
    the doc id. Corpus-side cost: one scan + one keyed exchange of
    (id, 2 longs) rows.

    Returns (id_col, n_grams, n_matched, contamination) with
    contamination = n_matched / n_grams rounded to 6 places.
    """
    from .text import rolling_hashes, shingle_rows

    bcol = bench_text_col or text_col
    bkeys = (shingle_rows(benchmark, bcol, n).distinct()
             .withColumn("_hit", F.lit(1)))
    grams = (df.select(F.col(id_col),
                       F.explode(F.array_distinct(
                           rolling_hashes(text_col, n))).alias("_k")))
    return (grams.join(F.broadcast(bkeys), "_k", "left")
            .groupBy(id_col)
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint")
                 .alias("n_matched"))
            .withColumn("contamination",
                        F.round(F.col("n_matched")
                                / F.col("n_grams"), 6)))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      threshold: float = 0.9,
                      max_token_df: int | None = None,
                      max_postings_per_token: int | None = None,
                      max_candidate_pairs: int | None = 100_000_000,
                      ) -> DataFrame:
    """Asymmetric near-dup detection: containment(A in B) =
    |A ∩ B| / |A| over distinct-token sets — the signal Jaccard misses
    when a short document is wholly embedded in a longer one (quoted
    articles, boilerplate-wrapped reposts: Jaccard is tiny because the
    union is large, containment is ~1). Emits one row per unordered
    pair with both directions:
    (id_a, id_b, containment_a_in_b, containment_b_in_a), filtered to
    max(direction) >= threshold.

    The plan is picked from the input and the caps, as in
    ``ngram_jaccard_pairs``:

    - ``bitmask`` when no cap is set and the corpus is small in both
      vocabulary and documents (see ``_bitmask_self_join``):
      containment is bit_count(a&b)/bit_count(a). At threshold >= 1.0
      the join predicate is the subset test a&b == a (or == b) and the
      two columns are exact subset INDICATORS (1.0 / 0.0).
    - ``inverted`` otherwise: explode distinct tokens, equality-join on
      the token, count intersections per pair, divide by EACH side's
      size (see ``_inverted_pair_counts``).

    ``max_token_df`` is the same mandatory-at-scale stop-token guard,
    and ``max_candidate_pairs`` (default 100M) the same loud pre-join
    cap on the candidate volume, as in ``ngram_jaccard_pairs``.
    ``max_postings_per_token``: deterministically keep only the K
    smallest doc ids per posting list. Containment counts intersections
    FROM the postings, so with a cap the scores are a deterministic
    sampled audit ("containment among the K earliest docs per token"),
    exact only for pairs whose both ids survive every shared posting —
    the bounded form that stays feasible where exact containment is
    definitionally quadratic (boilerplate cliques).
    """
    ts = _token_sets(df, text_col, id_col)
    bm = _bitmask_self_join(ts, max_token_df is not None
                            or max_postings_per_token is not None)
    if bm is None:
        pairs = _inverted_pair_counts(
            ts, max_token_df, max_postings_per_token, max_candidate_pairs,
            "containment_pairs(inverted)")
        ids = ["id_a", "id_b"]
        inter, na, nb = F.col("_inter"), F.col("_na"), F.col("_nb")
    else:
        a, b = bm
        ids = [F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")]
        ab = F.col("a._m").bitwiseAND(F.col("b._m"))
        a_in_b, b_in_a = ab == F.col("a._m"), ab == F.col("b._m")
        if threshold >= 1.0:
            # strict containment is a SUBSET test: A ⊆ B  ⟺  a&b == a.
            # Pure 64-bit ops in the join predicate — no bit_count, no
            # division per pair (~3x the pair throughput of the scored
            # form; this O(n²) loop is the whole cost at 50k+ docs)
            return (a.join(b, (F.col("a._id") < F.col("b._id")) &
                           (a_in_b | b_in_a))
                    .select(*ids, a_in_b.cast("double")
                            .alias("containment_a_in_b"),
                            b_in_a.cast("double")
                            .alias("containment_b_in_a")))
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
        inter = F.bit_count(ab).cast("double")
        na, nb = F.bit_count(F.col("a._m")), F.bit_count(F.col("b._m"))
    return (pairs.select(*ids,
                         F.round(inter / na, 6).alias("containment_a_in_b"),
                         F.round(inter / nb, 6).alias("containment_b_in_a"))
            .filter(F.greatest(F.col("containment_a_in_b"),
                               F.col("containment_b_in_a"))
                    >= threshold))


# ---------------------------------------------------------------------------
# ExactSubstr: duplicate n-gram span detection / removal
# ---------------------------------------------------------------------------

# Hot-gram routing of ``duplicate_ngram_spans`` (rationale there): a
# 1/_SAMPLE_RATE_INV position sample, grams with >= _HOT_MIN sampled
# hits go to a broadcast hot list capped at _MAX_HOT_GRAMS, and a hot
# gram's occurrences spread over _N_SALTS window partitions. They are
# read at call time.
_HOT_MIN = 8
_SAMPLE_RATE_INV = 64
_N_SALTS = 64
_MAX_HOT_GRAMS = 4_000_000


def _hot_gram_hits(df: DataFrame, g: DataFrame, text_col: str,
                   id_col: str, nn: int, min_count: int) -> DataFrame:
    """Duplicate-position decision for ``duplicate_ngram_spans`` (full
    rationale there): a sampled prepass builds the broadcast hot list,
    then ONE projection of ``g`` is window-counted over (gram, salt) —
    salt spreads hot grams, count decides cold ones exactly. Returns
    (id_col, _pos) duplicate positions."""
    from .text import gram_at, let_bound, tokens as _toks

    id_c = F.col(id_col)

    def body_sample(tk):
        m = F.greatest(F.size(tk) - F.lit(nn - 1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        # filter indices FIRST: gram hashes (the expensive slice +
        # concat per position) are computed only for the ~1/rate
        # survivors. The sample key is (doc, pos)-derived, so a gram's
        # sampled count is Binomial(corpus_count, 1/rate) regardless
        # of whether its repeats sit in one document or a million.
        keep = F.filter(
            idx,
            lambda i: F.pmod(F.xxhash64(id_c, i,
                                        F.lit("dup-span-sample")),
                             F.lit(_SAMPLE_RATE_INV)) == 0)
        return F.transform(
            keep,
            lambda i: F.struct(
                F.xxhash64(gram_at(tk, i, nn)).alias("h1"),
                F.xxhash64(gram_at(tk, i, nn),
                           F.lit("dup-span-salt")).alias("h2")))

    hot = (df.select(id_c,
                     F.explode(let_bound(_toks(text_col), body_sample))
                     .alias("_g"))
           .select(F.col("_g.h1").alias("_h1"),
                   F.col("_g.h2").alias("_h2"))
           .groupBy("_h1", "_h2")
           .agg(F.count(F.lit(1)).alias("_scnt"))
           .filter(F.col("_scnt") >= max(min_count, _HOT_MIN))
           # bounded broadcast: keep the HOTTEST grams; anything
           # truncated falls to the exact cold path (slower task,
           # same answer)
           .orderBy(F.desc("_scnt"), "_h1", "_h2")
           .limit(_MAX_HOT_GRAMS)
           .select("_h1", "_h2", F.lit(True).alias("_hot")))

    j = g.join(F.broadcast(hot), ["_h1", "_h2"], "left")
    salt = F.when(
        F.col("_hot"),
        F.pmod(F.xxhash64(id_c, F.col("_pos"), F.lit("dup-span-spread")),
               F.lit(_N_SALTS))).otherwise(F.lit(0))
    wc = Window.partitionBy("_h1", "_h2", "_salt")
    return (j.withColumn("_salt", salt)
             .withColumn("_cnt", F.count(F.lit(1)).over(wc))
             .filter(F.coalesce(F.col("_hot"), F.lit(False))
                     | (F.col("_cnt") >= min_count))
             .select(id_col, "_pos"))


def duplicate_ngram_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 16,
                          min_count: int = 2) -> DataFrame:
    """ExactSubstr-style duplicate-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): find,
    per document, the maximal token spans covered by ``n``-token
    substrings that occur at least ``min_count`` times in the WHOLE
    corpus (same-document repeats count — faithful ExactSubstr
    semantics; pass a dedicated df-per-doc variant if you want
    cross-document-only).

    The reference algorithm builds a corpus-wide suffix array — a
    sequential, single-machine construction. The distributed
    re-expression: every document emits one 128-bit hash per n-gram
    START POSITION (a pure projection — token array let-bound, grams
    hashed in place, nothing corpus-sized is materialized per row),
    one window count over the hash decides duplication, and the
    surviving positions fold into maximal spans with a classic
    gaps-and-islands pass (one exchange on the doc id).

    Hash note: duplication is decided on an (xxhash64(gram),
    xxhash64(gram, salt)) pair — 128 bits, so a false-duplicate
    collision needs ~2^64 distinct grams; the DuckDB oracle groups the
    raw gram string and agrees at every tested SF.

    Skew: a window partition key cannot be split, so a boilerplate
    gram repeated k times corpus-wide would serialize into one k-row
    task. A CHEAP prepass routes those grams around it: a deterministic
    1/``_SAMPLE_RATE_INV`` position sample (tokenize + index filter,
    gram hashes computed only for surviving indices) is counted per
    gram, and every gram with ``>= max(min_count, _HOT_MIN)`` SAMPLED
    occurrences goes into a bounded broadcast hot list
    (top-``_MAX_HOT_GRAMS`` by sample count). Because the sample is a
    subset of the corpus, sample_count >= min_count PROVES
    corpus_count >= min_count — the hot bypass is exact, not
    heuristic. The main pass projects grams ONCE, left-joins the
    broadcast list, and window-counts over (gram, salt): hot rows are
    already decided (their count is ignored) and carry a
    position-derived salt so they spread over ``_N_SALTS`` tasks; cold
    rows keep salt 0, so their window partition holds ALL their
    occurrences and the count stays exact. Skew bound: a cold gram's
    corpus count C has a sampled Binomial(C, 1/64) count that must have
    stayed below _HOT_MIN=8 — P < 1e-9 once C > ~3000 — so cold window
    partitions are small with overwhelming probability, and a miss only
    slows one task, never changes the answer. Measured against a
    two-pass groupBy + join form (two full gram projections): sf0.1
    8.2 -> 2.8 s, sf1 21.2 -> 11.6 s (SCALE.md).

    Returns (id_col, span_start, span_end, span_tokens): 1-based token
    coordinates, ``span_end`` exclusive; overlapping/adjacent duplicate
    grams merge into one span.
    """
    from .text import gram_at, let_bound, tokens as _toks

    nn = int(n)

    def body(tk):
        m = F.greatest(F.size(tk) - F.lit(nn - 1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.xxhash64(gram_at(tk, i, nn)).alias("h1"),
                F.xxhash64(gram_at(tk, i, nn),
                           F.lit("dup-span-salt")).alias("h2")))

    g = (df.select(F.col(id_col),
                   F.explode(let_bound(_toks(text_col), body)).alias("_g"))
         .select(id_col, F.col("_g.pos").alias("_pos"),
                 F.col("_g.h1").alias("_h1"), F.col("_g.h2").alias("_h2")))
    hits = _hot_gram_hits(df, g, text_col, id_col, nn, int(min_count))
    wd = Window.partitionBy(id_col).orderBy("_pos")
    new_island = F.when(
        F.lag("_pos").over(wd).isNull()
        | (F.col("_pos") - F.lag("_pos").over(wd) > nn), 1).otherwise(0)
    island = F.sum(new_island).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (hits.withColumn("_isl", island)
            .groupBy(id_col, "_isl")
            .agg(F.min("_pos").cast("int").alias("span_start"),
                 (F.max("_pos") + nn).cast("int").alias("span_end"))
            .select(id_col, "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .cast("int").alias("span_tokens")))


def strip_duplicate_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 16,
                          min_count: int = 2) -> DataFrame:
    """Remove every duplicate span found by ``duplicate_ngram_spans``
    and reassemble the surviving text — the apply step of ExactSubstr
    dedup.

    Plan: the span table of ``duplicate_ngram_spans`` (built in this
    call; linear in duplicated regions, far smaller than the corpus)
    is grouped to a per-doc span ARRAY (bounded by
    doc length / n, so the array is small by construction) and joined
    back LEFT onto the corpus — one exchange of the span table, one of
    the doc keys; the token filter is a native higher-order expression
    (O(len x spans) per row, no Python). Docs with no duplicate span
    pass through untouched via the left join.

    Returns (id_col, n_tokens, n_removed, clean_text); ``clean_text``
    is '' when the whole document was duplicated.
    """
    from .text import let_bound, tokens as _toks

    spans = (duplicate_ngram_spans(df, text_col, id_col, n, min_count)
             .groupBy(id_col)
             .agg(F.collect_list(F.struct("span_start", "span_end"))
                  .alias("_spans")))
    joined = df.select(id_col, text_col).join(spans, id_col, "left")
    sp = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"))

    def body(tk):
        idx = F.sequence(F.lit(1), F.size(tk))
        keep = F.filter(
            idx,
            lambda i: ~F.exists(
                sp, lambda s: (i >= s["span_start"]) & (i < s["span_end"])))
        return F.struct(
            F.size(tk).cast("int").alias("n_tokens"),
            (F.size(tk) - F.size(keep)).cast("int").alias("n_removed"),
            F.concat_ws(
                " ", F.transform(keep, lambda i: F.element_at(tk, i)))
            .alias("clean_text"))

    out = joined.withColumn("_o", let_bound(_toks(text_col), body))
    return out.select(id_col, F.col("_o.n_tokens").alias("n_tokens"),
                      F.col("_o.n_removed").alias("n_removed"),
                      F.col("_o.clean_text").alias("clean_text"))
