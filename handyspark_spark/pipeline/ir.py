"""Information-retrieval operators over the documents table: TF-IDF
vectorization, BM25 ranked retrieval, n-gram counts.

Beyond-reference surface (the reference has no text/IR operators; this is
part of the training-data-pipeline requirement): corpus statistics and
retrieval scoring expressed as native explode + groupBy + join plans.

Scale design (100 TB corpus):
- ``term_frequencies`` shuffles (doc_id, token) pairs ONCE with map-side
  partial aggregation, so shuffled bytes are per-doc *distinct* terms, not
  raw token occurrences.
- ``tfidf`` derives document frequency FROM the tf table (no second pass
  over the corpus) and joins it back on the token key — a vocabulary-sized
  shuffle, orders of magnitude smaller than the corpus.
- ``bm25_topk`` filters the exploded tokens to the query's terms BEFORE any
  shuffle — the expensive explode+groupBy runs only over documents that
  contain a query term, and the per-term statistics frame (|query| rows) is
  broadcast. Corpus-wide constants (N, avgdl) travel as a broadcast 1-row
  cross join, never a driver collect.

Tokenization matches pipeline/text.py (single-space split) so every
operator is oracle-checkable against DuckDB ``string_split`` bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def term_frequencies(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document term counts: (id_col, tok, tf). One explode + one
    grouped aggregation (map-side combine keeps shuffle size at distinct
    (doc, term) pairs)."""
    return (df.select(F.col(id_col),
                      F.explode(tokens(text_col)).alias("tok"))
            .groupBy(id_col, "tok")
            .agg(F.count(F.lit(1)).alias("tf")))


def tfidf(df: DataFrame, text_col: str = "text",
          id_col: str = "doc_id") -> DataFrame:
    """Smoothed TF-IDF (sklearn convention: idf = ln((N+1)/(df+1)) + 1)
    per (document, term).

    Plan: tf table -> df-per-token derived from it (token-keyed shuffle,
    |vocab| rows) -> join back on token -> broadcast 1-row corpus count.
    Returns (id_col, tok, tf, df, tfidf)."""
    # the df-per-token branch and the output join both consume the tf
    # table and share its aggregate exchange (ReusedExchange), so the
    # corpus explode+groupBy map side runs once. df counts the docs with
    # tf > 0, which reads tf: a count(1) lets the optimizer prune tf's
    # count from the df branch, and the two exchanges would differ
    tf = term_frequencies(df, text_col, id_col)
    dfc = tf.groupBy("tok").agg(F.count_if(F.col("tf") > 0).alias("df"))
    n = df.select(F.count(F.lit(1)).alias("_n"))
    return (tf.join(dfc, "tok")
            .crossJoin(F.broadcast(n))
            .select(id_col, "tok", "tf", "df",
                    (F.col("tf") *
                     (F.log((F.col("_n") + F.lit(1.0)) /
                            (F.col("df") + F.lit(1.0))) + F.lit(1.0)))
                    .alias("tfidf")))


def bm25_topk(df: DataFrame, query_terms: list[str],
              text_col: str = "text", id_col: str = "doc_id",
              k: int = 10, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 ranked retrieval: top-k documents for a bag-of-words query.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (Robertson-Sparck Jones)
    score  = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    The token filter (``tok IN query``) is applied inside the projection
    BEFORE the explode ships anything — only documents containing a query
    term produce shuffle rows. Per-term df (|query| rows) is broadcast;
    N and avgdl are broadcast 1-row aggregates. Ties broken by id.
    Returns (id_col, score) with score rounded to 6 for stable ordering."""
    qs = F.array(*[F.lit(t) for t in query_terms])
    hits = (df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("double").alias("dl"),
        F.explode(F.filter(tokens(text_col),
                           lambda t: F.array_contains(qs, t))).alias("tok")))
    # the df branch and the scoring join both consume tf and share its
    # aggregate exchange (ReusedExchange): the query-term scan+groupBy
    # map side runs once. dl is a function of the doc, so it rides as a
    # grouping key, and df counts the docs with tf > 0 (as in tfidf):
    # both keep the two branches' exchanges identical
    tf = hits.groupBy(id_col, "tok", "dl").agg(
        F.count(F.lit(1)).cast("double").alias("tf"))
    dfc = tf.groupBy("tok").agg(
        F.count_if(F.col("tf") > 0).cast("double").alias("df"))
    stats = df.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(F.size(tokens(text_col))).alias("_avgdl"))
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("df") + 0.5) /
                (F.col("df") + 0.5))
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
    contrib = idf * F.col("tf") * (k1 + 1.0) / denom
    scored = (tf.join(F.broadcast(dfc), "tok")
              .crossJoin(F.broadcast(stats))
              .groupBy(id_col)
              .agg(F.round(F.sum(contrib), 6).alias("score")))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def pmi_collocations(df: DataFrame, min_count: int = 10,
                     text_col: str = "text") -> DataFrame:
    """Collocation discovery: pointwise mutual information of adjacent
    token pairs, ``pmi = ln( p(ab) / (p(a)·p(b)) )`` with p(ab) over the
    bigram total and p(·) over the unigram total.

    Plan: ONE corpus pass builds bigrams as array slices (same shape as
    ``top_ngrams``), a second projection of the same scan counts
    unigrams; both aggregate map-side to vocabulary-sized tables, join on
    the token key, totals travel as broadcast 1-row aggregates. The
    ``min_count`` filter is applied on the bigram table BEFORE the joins
    — the joined row count is |frequent bigrams|, not |vocab|².
    Returns (tok_a, tok_b, n_ab, pmi) — deterministic, no top-k ties."""
    from .text import let_bound
    toks = tokens(text_col)

    def body(tk):
        m = F.greatest(F.size(tk) - F.lit(1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.struct(F.element_at(tk, i).alias("a"),
                                    F.element_at(tk, i + 1).alias("b")))
    pairs = let_bound(toks, body)
    big = (df.select(F.explode(pairs).alias("_p"))
           .select(F.col("_p.a").alias("tok_a"),
                   F.col("_p.b").alias("tok_b"))
           .groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("n_ab"))
           .filter(F.col("n_ab") >= min_count))
    uni = (df.select(F.explode(toks).alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    tot = uni.agg(F.sum("n").cast("double").alias("_tu"))
    nbig = df.select(
        F.sum(F.greatest(F.size(tokens(text_col)) - F.lit(1), F.lit(0)))
        .cast("double").alias("_tb"))
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    pmi = F.log((F.col("n_ab") / F.col("_tb")) /
                ((F.col("n_a") / F.col("_tu")) *
                 (F.col("n_b") / F.col("_tu"))))
    return (big.join(ua, "tok_a").join(ub, "tok_b")
            .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nbig))
            .select("tok_a", "tok_b", "n_ab", F.round(pmi, 6).alias("pmi")))


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheapest LM-style quality signal (a
    perplexity proxy: boilerplate scores high, lexical soup scores low).

    Plan: unigram table (one corpus pass, map-side combine), token-keyed
    join of the exploded corpus against it, per-doc mean. Every token is
    in-vocabulary by construction so no smoothing is needed. Returns
    (id_col, n_tokens, avg_logprob)."""
    toks = tokens(text_col)
    # the totals agg and the scoring join both consume the |vocab|-row
    # unigram table and share its aggregate exchange (ReusedExchange)
    uni = (df.select(F.explode(toks).alias("tok"))
           .groupBy("tok").agg(F.count(F.lit(1)).alias("n")))
    tot = uni.agg(F.sum("n").cast("double").alias("_t"))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    lp = F.log(F.col("n") / F.col("_t"))
    return (exploded.join(uni, "tok").crossJoin(F.broadcast(tot))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.avg(lp), 6).alias("avg_logprob")))


def top_ngrams(df: DataFrame, n: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide most frequent token n-grams — the language-model count
    table. n-grams are built as array slices inside the projection (no
    re-tokenize per gram), exploded, and counted in one grouped job;
    top-k via TakeOrderedAndProject (no global sort materialization).
    Ties broken lexicographically. Returns (ngram, cnt)."""
    from .text import gram_at, let_bound

    def body(tk):
        m = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        # gram_at point lookups, not F.slice — slice allocates an
        # n-element array per position and the gram build dominates the
        # projection (SCALE.md round-10; idx stops at size-n+1 so every
        # gram is full-width, identical strings either way)
        return F.transform(idx, lambda i: gram_at(tk, i, n))
    grams = let_bound(tokens(text_col), body)
    return (df.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("ngram"))
            .limit(k))
