"""Training-data pipeline operators (beyond-reference surface)."""
from .dedup import (connected_components, containment_pairs,
                    decontaminate,
                    lsh_bucket_state, lsh_incremental_matches,
                    decontaminate_bloom, dedup_keep_best,
                    minhash_lsh_components, minhash_lsh_star_edges,
                    embedding_neardup_pairs, exact_duplicates,
                    fingerprint_duplicates, minhash_lsh_groups,
                    minhash_lsh_pairs, minhash_signature_arrays,
                    minhash_signatures, ngram_jaccard_pairs,
                    ngram_contamination, passage_dedup,
                    simhash_fingerprints, simhash_neardup_pairs)
from .sample import (balanced_sample, deterministic_shuffle,
                     dsir_weights, hash_sample, hash_unit,
                     kfold_assign, mix_sources, split_assign,
                     stratified_sample, temperature_mix_rates,
                     token_budget_sample, weighted_sample)
from .ir import (bm25_topk, pmi_collocations, term_frequencies, tfidf,
                 top_ngrams, unigram_logprob)
from .similarity import (brute_force_topk, ivf_topk, label_centroids,
                         lsh_neardup_pairs, neardup_pairs_blas,
                         pq_codebooks, pq_encode, pq_topk,
                         quantize_embeddings, semdedup_drops,
                         semdedup_pairs)
from .drift import (drift_report, drift_report_from_hist,
                    slice_histograms)
from .text import (analyze, chunk, fingerprint, gopher_rules,
                   lang_id, let_bound, normalize_text,
                   pack_sequences, pii_counts, pii_redact, quality_score,
                   repetition_ratio, source_report, stop_tokens,
                   token_count, token_df_counts, top_ngram_fraction)

__all__ = [
    "exact_duplicates", "fingerprint_duplicates", "ngram_jaccard_pairs",
    "minhash_signatures", "minhash_signature_arrays", "minhash_lsh_pairs",
    "minhash_lsh_groups", "minhash_lsh_star_edges", "minhash_lsh_components",
    "simhash_fingerprints",
    "simhash_neardup_pairs",
    "embedding_neardup_pairs", "connected_components", "decontaminate",
    "brute_force_topk", "neardup_pairs_blas", "lsh_neardup_pairs",
    "ivf_topk", "label_centroids",
    "term_frequencies", "tfidf", "bm25_topk", "top_ngrams",
    "pmi_collocations", "unigram_logprob",
    "analyze", "chunk", "fingerprint", "lang_id", "quality_score",
    "token_count", "repetition_ratio", "pii_counts", "token_df_counts",
    "stop_tokens", "pack_sequences", "source_report", "quantize_embeddings",
    "hash_unit", "hash_sample", "split_assign", "stratified_sample",
    "balanced_sample", "mix_sources",
    "decontaminate_bloom", "dedup_keep_best", "lsh_bucket_state",
    "kfold_assign", "lsh_incremental_matches", "token_budget_sample",
    "weighted_sample", "pq_codebooks", "pq_encode", "pq_topk",
    "normalize_text", "pii_redact", "top_ngram_fraction",
    "passage_dedup", "ngram_contamination", "semdedup_pairs",
    "semdedup_drops", "gopher_rules", "let_bound",
    "deterministic_shuffle", "dsir_weights", "temperature_mix_rates",
    "drift_report", "drift_report_from_hist", "slice_histograms",
    "containment_pairs",
]


def pretrain_funnel(df, text_col="text", id_col="doc_id",
                    bench=None, num_hashes=16, bands=4, sigs=None):
    """End-to-end pretraining data funnel — the composed pipeline a
    training run actually executes, returning per-stage survivor counts:

      raw -> quality gate (gopher_rules) -> exact dedup (first-copy
      keep) -> near-dup dedup (LSH groups, keep group min) ->
      benchmark decontamination (n-gram anti-join)

    Round-9 shared-scan fusion: instead of five separate stage counts
    (each its own aggregation job over a persisted intermediate — 32
    exchanges), every doc carries SURVIVAL FLAGS on one lineage:

    - ``_q``      quality gate (a projection — free);
    - ``_e``      first-copy-per-md5 among quality rows, as a
      CONDITIONAL min over the md5 window (no pre-filter, so the
      window exchange is shared by every downstream branch and
      Catalyst reuses it instead of re-scanning);
    - ``_nd``     joined flag: doc is its LSH cluster's keeper
      (clusters computed over the exact-survivor branch only);
    - ``_hit``    joined flag: shares a 13-gram with the benchmark.

    All five counts then come from ONE conditional aggregation
    (count + 4 sums) unpivoted with ``stack`` — a single pass over the
    corpus plus the two dedup subtrees, instead of one job per stage.
    At 100 TB: one scan, the md5 window exchange, the LSH band
    exchanges, two keyed flag joins, one scalar agg.

    Returns (stage, n_docs) with stages ordered raw/quality/exact/
    neardup/decontaminated."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .dedup import minhash_lsh_groups
    from .text import gopher_rules, rolling_hashes

    rules = gopher_rules(text_col)
    w = Window.partitionBy(F.md5(F.col(text_col)))
    # The flag-carrying window output feeds THREE branches of the one
    # fused action (the conditional agg, the LSH subtree, the
    # contamination subtree). Spark has no cross-branch common-subplan
    # elimination — only the md5 EXCHANGE gets reused — so without a
    # persist the scan + quality projection + window evaluate once per
    # branch (measured at sf10: 12.3 -> 16.0s after the round-9 fusion
    # dropped the old per-stage persists). Materializing the slim
    # (id, text, _q, _e) frame restores single evaluation while keeping
    # the one-pass conditional agg; it is corpus-text-sized, the same
    # footprint the pre-fusion plan persisted.
    from ..core.cache import managed_persist
    base = managed_persist(
        df.select(id_col, text_col)
          .withColumn("_q", rules["pass"])
          .withColumn("_qfirst",
                      F.min(F.when(F.col("_q"), F.col(id_col))).over(w))
          .withColumn("_e", F.col("_q")
                      & (F.col("_qfirst") == F.col(id_col)))
          .select(id_col, text_col, "_q", "_e"))
    exact = base.filter(F.col("_e")).select(id_col, text_col)

    # sigs=: a precomputed full-corpus minhash_signature_arrays table
    # (same num_hashes contract as every other sigs= seam).
    # The LSH subtree then SUBSETS it to the exact-dedup survivors with
    # a semi-join against the persisted base flags instead of re-signing
    # the filtered text. Round-11 A/B at sf10 (alternating in one
    # session, value-identical): settled tail re-sign 6.4s vs consume
    # 5.8s, and consume is far more robust while the box churns (6.6s
    # vs 19.0s mid-session) — the semi-join against already-signed rows
    # beats md5-signing ~340k surviving documents, and the signing is
    # already paid once per corpus by the LSH query family. This
    # retires the SCALE.md §10 hypothesis that the semi-join would
    # cost what it saves.
    sub = (None if sigs is None else
           sigs.join(base.filter(F.col("_e")).select(id_col), id_col,
                     "left_semi"))
    groups = minhash_lsh_groups(exact, text_col=text_col, id_col=id_col,
                                num_hashes=num_hashes, bands=bands,
                                sigs=sub)
    keep = (groups.groupBy("cluster_id")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, F.lit(True).alias("_nd")))

    if bench is None:
        bench = df.filter(F.col(id_col) % 37 == 0)
    # contamination hits computed over the exact branch (a superset of
    # the near-dup keepers — the flag is only consulted where _nd holds,
    # so the result is identical to decontaminating the keepers)
    bkeys = (bench.select(F.explode(rolling_hashes(text_col, 13))
                          .alias("_k")).distinct())
    hits = (exact.select(id_col,
                         F.explode(rolling_hashes(text_col, 13))
                         .alias("_k"))
            .join(F.broadcast(bkeys), "_k", "left_semi")
            .select(id_col).distinct()
            .select(id_col, F.lit(True).alias("_hit")))

    nd = F.col("_e") & F.coalesce(F.col("_nd"), F.lit(False))
    flagged = (base.select(id_col, "_q", "_e")
               .join(keep, id_col, "left")
               .join(hits, id_col, "left"))
    # coalesce: F.sum over zero rows is NULL — on an empty input every
    # stage must report 0 (the old per-stage count() contract, and what
    # the monotonicity property assumes)
    row = flagged.agg(
        F.count(F.lit(1)).alias("n1"),
        F.coalesce(F.sum(F.col("_q").cast("long")),
                   F.lit(0)).alias("n2"),
        F.coalesce(F.sum(F.col("_e").cast("long")),
                   F.lit(0)).alias("n3"),
        F.coalesce(F.sum(nd.cast("long")), F.lit(0)).alias("n4"),
        F.coalesce(F.sum((nd & ~F.coalesce(F.col("_hit"), F.lit(False)))
                         .cast("long")), F.lit(0)).alias("n5"))
    return row.select(F.expr(
        "stack(5, '1_raw', n1, '2_quality', n2, '3_exact', n3, "
        "'4_neardup', n4, '5_decontaminated', n5) AS (stage, n_docs)"))
