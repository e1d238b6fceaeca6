"""Training-data pipeline operators (beyond-reference surface).

The public names below resolve lazily (PEP 562 ``__getattr__``): the
first access of a name imports its one submodule. Importing this
package, or one submodule such as ``pipeline.similarity``, therefore
loads nothing else — which is what a Python UDF worker does when it
unpickles a closure that references a submodule helper.
"""
from .. import _lazy_names

_EXPORTS = {
    "dedup": (
        "connected_components", "containment_pairs", "decontaminate",
        "decontaminate_bloom", "dedup_keep_best", "embedding_neardup_pairs",
        "exact_duplicates", "fingerprint_duplicates", "lsh_bucket_state",
        "lsh_incremental_matches", "minhash_lsh_components",
        "minhash_lsh_groups", "minhash_lsh_pairs", "minhash_lsh_star_edges",
        "minhash_signature_arrays", "minhash_signatures",
        "ngram_contamination", "ngram_jaccard_pairs", "passage_dedup",
        "simhash_fingerprints", "simhash_neardup_pairs"),
    "sample": (
        "balanced_sample", "deterministic_shuffle", "dsir_weights",
        "hash_sample", "hash_unit", "kfold_assign", "mix_sources",
        "split_assign", "stratified_sample", "temperature_mix_rates",
        "token_budget_sample", "weighted_sample"),
    "ir": (
        "bm25_topk", "pmi_collocations", "term_frequencies", "tfidf",
        "top_ngrams", "unigram_logprob"),
    "similarity": (
        "brute_force_topk", "ivf_topk", "label_centroids",
        "lsh_neardup_pairs", "neardup_pairs_blas", "pq_codebooks",
        "pq_encode", "pq_topk", "quantize_embeddings", "semdedup_drops",
        "semdedup_pairs"),
    "drift": ("drift_report", "drift_report_from_hist", "slice_histograms"),
    "text": (
        "analyze", "chunk", "fingerprint", "gopher_rules", "lang_id",
        "let_bound", "normalize_text", "pack_sequences", "pii_counts",
        "pii_redact", "quality_score", "repetition_ratio", "source_report",
        "stop_tokens", "token_count", "token_df_counts",
        "top_ngram_fraction"),
    "funnel": ("pretrain_funnel",),
}
_OWNER = {name: mod for mod, names in _EXPORTS.items() for name in names}

__all__ = list(_OWNER)


__getattr__, __dir__ = _lazy_names(__name__, _OWNER)
