"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (SURVEY.md §7 / BASELINE north star): language ID,
quality scoring, token counting, document fingerprinting — all expressed as
NATIVE Spark column expressions (split/filter/aggregate/md5), so they run
inside whole-stage codegen with zero shuffles (pure map-side projections).
At 100 TB these are scan-bound, which is exactly what you want.

Tokenization convention: split on a single space — deliberately the same
operation as ANSI ``string_split(text, ' ')`` so every operator here is
oracle-checkable against DuckDB bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic
# language-ID. Real pipelines plug in fastText/CLD3; the Spark-side shape
# (argmax over per-language hit counts, one projection) is what matters.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den"],
}

STOPWORDS_EN = LANG_PROFILES["en"] + ["a", "an", "for", "on", "with", "as"]


def tokens(col) -> Column:
    """Whitespace tokens (single-space split; see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ", -1)


def gram_at(tk: Column, i: Column, k: int) -> Column:
    """k-token gram string at 1-based position ``i`` of the bound token
    array: ``concat_ws`` over ``F.get`` POINT lookups instead of
    ``F.slice`` — slice allocates a k-element array per position, and
    the gram projection is the hot loop of the whole dedup/contamination
    family (measured at sf10: k=5 11.1 -> 4.4s, k=13 10.2 -> 7.5s for
    the bare projection). ``F.get`` is 0-based and null-safe;
    ``concat_ws`` skips nulls, so positions past the array end degrade
    to exactly the string the short slice produced."""
    return F.concat_ws(" ", *[F.get(tk, i + j - 1) for j in range(k)])


def let_bound(value: Column, body) -> Column:
    """Let-binding for a single Column expression: evaluate ``value``
    ONCE per row and pass it to ``body`` as a bound lambda variable.

    Spark performs no common-subexpression elimination inside
    higher-order-function lambda bodies, so an expression like
    ``transform(idx, i -> slice(split(text), i, k))`` re-splits the
    text for EVERY index — O(len²) work per document (measured 3x the
    whole n-gram explode cost at sf10). Wrapping the array in a
    1-element array and transforming over it turns the outer value into
    a NamedLambdaVariable, which IS evaluated once:
    ``transform(array(v), x -> body(x))[0]``."""
    return F.transform(F.array(value), body)[0]


def token_count(col) -> Column:
    return F.size(tokens(col)).cast("int")


def bpe_ish_token_count(col) -> Column:
    """Sub-word-ish token estimate: word-boundary pieces of <=4 chars —
    a cheap deterministic proxy for BPE token counts (regexp-based,
    still a pure projection)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(
        c, F.lit(r"[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]"), F.lit(0))).cast("int")


def char_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("int")


def stopword_ratio(col, stopwords: list[str] | None = None) -> Column:
    """Fraction of token OCCURRENCES that are stopwords (array filter —
    no explode, no shuffle)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits.cast("double") / F.size(toks)


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.length(c)


def mean_word_length(col) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0),
                        lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def quality_score(col, stopwords: list[str] | None = None) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation + sane word length. Deterministic, oracle-expressible."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = (n >= 64) & (n <= 20000)
    sw = stopword_ratio(c, stopwords)
    mwl = mean_word_length(c)
    score = (len_ok.cast("double") * 0.25
             + ((sw >= 0.05) & (sw <= 0.6)).cast("double") * 0.25
             + (punct_ratio(c) <= 0.2).cast("double") * 0.25
             + ((mwl >= 2.0) & (mwl <= 12.0)).cast("double") * 0.25)
    return score


#: Per-language hit counters pack 4-per-long as 16-bit lanes inside
#: ``lang_id``'s single-pass aggregate; a doc with more tokens than one
#: lane can count falls back to the per-language filter scan so the
#: scores stay exact at any document size.
LANG_PACK_LANE_MAX = 0xFFFF


def _lang_argmax(scores: list[Column], codes: list[str]) -> Column:
    # argmax over an array of (score, -position) structs: each language's
    # score expression appears ONCE. The old chained-when formulation
    # re-embedded every prior score inside each comparison, so the
    # expression tree grew quadratically with the number of language
    # profiles (measured as the r2->r3 lang_id bench regression when the
    # profiles got richer). struct comparison is lexicographic, so on
    # score ties the LARGEST -position = smallest index = alphabetically
    # first code wins — the same tie-break as before.
    entries = [F.struct(s.alias("s"), F.lit(-i).alias("ni"))
               for i, s in enumerate(scores)]
    best = F.array_max(F.array(*entries))
    code_arr = F.array(*[F.lit(c) for c in codes])
    return F.when(best["s"] > 0, F.element_at(code_arr, -best["ni"] + 1)) \
            .otherwise(F.lit("und"))


def _lang_filter_scores(tk: Column,
                        profiles: dict[str, list[str]]) -> list[Column]:
    """Per-language hit counts as one ``filter`` scan per language — the
    exact-at-any-size fallback (and pre-r13 formulation)."""
    out = []
    for code in sorted(profiles):
        words = F.array(*[F.lit(w) for w in profiles[code]])
        out.append(F.size(F.filter(tk, lambda t: F.array_contains(words, t)))
                   .cast("int"))
    return out


def _lang_packed_accs(tk: Column,
                      profiles: dict[str, list[str]]) -> list[Column]:
    """ONE traversal of the token array per 4 languages: profile words
    map to a packed bitmask long (lane i = 1 << 16i for each language i
    containing the word — shared words count for every owner), and the
    per-token masks just ADD into a single long accumulator. Replaces
    |languages| separate filter-scans (each |tokens| x |profile| string
    compares plus a filtered-array allocation per language per row) with
    one length-gated map lookup per token. Exact while every lane stays
    <= LANG_PACK_LANE_MAX (caller guards on token count); two's-
    complement addition keeps lane bit patterns exact even when the top
    lane sets the sign bit, and every lane extraction re-masks to 16
    bits. Measured sf1 documents: 3.70 -> 1.02 s noop (values equal)."""
    codes = sorted(profiles)
    zero = F.lit(0).cast("long")
    accs = []
    for g0 in range(0, len(codes), 4):
        wm: dict[str, int] = {}
        for i, code in enumerate(codes[g0:g0 + 4]):
            for w in profiles[code]:
                wm[w] = wm.get(w, 0) | (1 << (16 * i))
        maxlen = max(len(w) for w in wm)
        m = F.create_map(*[F.lit(x) for w, msk in sorted(wm.items())
                           for x in (w, msk)])
        accs.append(F.aggregate(
            tk, zero,
            # length gate first: profile words are short, so most tokens
            # skip the (linear over |vocab|) literal-map probe entirely
            lambda a, t: a + F.when(F.length(t) <= maxlen,
                                    F.coalesce(F.element_at(m, t), zero))
                              .otherwise(zero)))
    return accs


def lang_id(col, profiles: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    'und' when nothing matches. One projection, deterministic tie-break by
    language code order.

    Round-13 plan: the hit counts come from ``_lang_packed_accs`` — one
    token-array traversal per 4 languages instead of one filter scan per
    language — behind a per-row token-count guard that falls back to the
    filter scans on (pathological) docs whose counts could overflow a
    16-bit lane. Both the token array and the packed accumulators are
    ``let_bound`` so they evaluate once per row (no CSE inside
    higher-order lambdas)."""
    profiles = profiles or LANG_PROFILES
    codes = sorted(profiles)

    def top(tk):
        def scored(accarr):
            scores = []
            for gi, g0 in enumerate(range(0, len(codes), 4)):
                for i in range(len(codes[g0:g0 + 4])):
                    scores.append(
                        F.shiftright(accarr[gi], 16 * i)
                         .bitwiseAND(F.lit(LANG_PACK_LANE_MAX)).cast("int"))
            return _lang_argmax(scores, codes)
        fast = let_bound(F.array(*_lang_packed_accs(tk, profiles)), scored)
        return F.when(F.size(tk) <= LANG_PACK_LANE_MAX, fast) \
                .otherwise(_lang_argmax(_lang_filter_scores(tk, profiles),
                                        codes))

    return let_bound(tokens(col), top)


def repetition_ratio(col, k: int = 3) -> Column:
    """Gopher-style duplicate k-gram fraction: 1 − |distinct k-grams| /
    |k-grams| over whitespace tokens. High values flag boilerplate /
    degenerate repetition. Pure array expression (transform over a
    sequence — no explode, no shuffle); docs shorter than ``k`` tokens
    score 0."""
    # k-grams as raw token slices (tokens are space-split so slice
    # identity == joined-string identity, minus the concat allocations);
    # the token array is let_bound so the split runs once per row, not
    # once per gram index (see let_bound)
    def body(tk):
        mm = F.greatest(F.size(tk) - F.lit(k - 1), F.lit(0))
        ix = F.when(mm > 0, F.sequence(F.lit(1), mm)) \
              .otherwise(F.array().cast("array<int>"))
        # xxhash64 of the gram (gram_at point lookups) instead of the
        # token sub-ARRAY: array_distinct on longs, not on arrays —
        # same distinct count (per-doc collision P ~ 1e-15)
        kg = F.transform(ix, lambda i: F.xxhash64(gram_at(tk, i, k)))
        return F.when(
            mm > 0,
            F.lit(1.0) - F.size(F.array_distinct(kg)).cast("double") / mm
        ).otherwise(F.lit(0.0))
    return let_bound(tokens(col), body)


# Regex patterns shared verbatim by the Spark expression and the DuckDB
# oracle — kept to the dialect-neutral subset (no lookarounds, no \b).
PII_PATTERNS = {
    "n_emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "n_urls": r"https?://[^ ]+",
    "n_long_digits": r"[0-9]{9,}",     # phone/SSN/account-number-ish
}


def pii_counts(col) -> list[Column]:
    """Per-document counts of PII-shaped substrings (emails, URLs, long
    digit runs) — the redaction/filter signal a training pipeline gates
    on. One ``regexp_extract_all`` projection per pattern, map-only."""
    c = F.col(col) if isinstance(col, str) else col
    return [F.size(F.regexp_extract_all(c, F.lit(p), F.lit(0)))
            .cast("int").alias(name) for name, p in PII_PATTERNS.items()]


def fingerprint(col) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct lowercase
    token set (the classic 'fingerprint clustering' key). A pure projection;
    dedup on it is one hash-groupBy. A NULL text has a NULL fingerprint
    (``array_join`` keeps the NULL that ``concat_ws`` would turn into
    ``""``), so it never collides with an empty document — as in the
    DuckDB form ``md5(array_to_string(...))``."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(
        F.col(col) if isinstance(col, str) else col))))
    return F.md5(F.array_join(toks, " "))


def rolling_hashes(col, k: int = 5) -> Column:
    """k-token shingle hashes (rolling window over the token array) —
    the shingle key used by the n-gram decontamination/contamination
    family. Array expression, no explode; the token array is let_bound
    (split once per row, not per shingle).

    Every consumer uses the hashes only as EQUALITY keys (anti-joins,
    membership flags) — the values never surface — so they are native
    ``xxhash64`` longs (measured 1.4-1.6x faster end-to-end at sf10 than
    md5, whose 32-char hex strings also bloat the broadcast probe tables
    4x). Collision envelope at 64 bits:
    E[false matches] = corpus_grams x bench_grams / 2^64 — at a 100 TB
    corpus (~1e12 grams) against a 1e9-gram benchmark that is ~50
    spurious gram matches total, i.e. a ~1e-10 shift in a contamination
    fraction or ~dozens of over-dropped docs among billions; the
    tested-SF oracles (which join RAW gram strings) bound it at zero in
    practice.

    Each TOKEN is hashed once and k fixed-width token-hash longs are
    combined per gram — replacing the per-gram ``concat_ws`` string
    build + variable-length hash (each token's bytes were copied and
    hashed k times). Gram
    equality is preserved: tokens are single-space-split so they contain
    no spaces, making gram-string <-> token-sequence a bijection, and
    the sub-k tail gram's null-skip (``F.get`` past the end -> NULL,
    which both ``concat_ws`` and ``xxhash64`` ignore) is identical on
    every side of every join — consumers only ever equate hashes
    produced by this same function. Measured sf10 documents (distinct-
    shingle count per doc, noop): 7.7 -> 4.1 s; ngram_contamination
    end-to-end 12.0 -> ~8.5 s."""
    def body(tk):
        return let_bound(
            _token_hashes(tk),
            lambda h: F.transform(_gram_starts(F.size(tk), k),
                                  lambda i: _gram_hash(h, i, k)))
    return let_bound(tokens(col), body)


def _token_hashes(tk: Column) -> Column:
    return F.transform(tk, lambda t: F.xxhash64(t))


def _gram_starts(n: Column, k: int) -> Column:
    """0-based start of every k-gram of an n-token array; a shorter
    array has one (its sub-k tail gram)."""
    return F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))


def _gram_hash(h: Column, i: Column, k: int) -> Column:
    """The gram at ``i`` of the token-hash array ``h``: ``xxhash64``
    over its k token hashes (a NULL past the end is skipped)."""
    return F.xxhash64(*[F.get(h, i + j) for j in range(k)])


def shingle_rows(df: DataFrame, col, k: int = 5, keep=()) -> DataFrame:
    """One row per k-token shingle of ``col``: ``keep`` plus the hash
    in ``_k``, the same values ``F.explode(rolling_hashes(col, k))``
    gives, without its per-gram lambda. The token hashes are projected
    once per row, the gram starts are exploded, and each gram's
    ``xxhash64`` is a plain projection over the generated rows, so the
    Generate and the Project both run in whole-stage codegen (measured
    on perfbench's curation corpus, 4-core host: the two n-gram
    ``decontaminate`` calls of a pass 1.59 -> 0.56 s of executor CPU).
    ``rolling_hashes`` stays for consumers of the array."""
    keep = list(keep)
    return (df.select(*keep, _token_hashes(tokens(col)).alias("_h"))
            .select(*keep, "_h",
                    F.explode(_gram_starts(F.size("_h"), k)).alias("_i"))
            .select(*keep, _gram_hash(F.col("_h"), F.col("_i"), k)
                    .alias("_k")))


def token_df_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document frequency per distinct token: ONE explode over per-doc
    distinct tokens + ONE groupBy — the vocabulary-statistics job that
    feeds stop-token lists (e.g. the ``max_token_df`` guard on
    ``ngram_jaccard_pairs``) and df-based quality filters. Shuffled bytes
    are |vocabulary|, not |corpus|, thanks to map-side partial counts."""
    return (df.select(F.explode(F.array_distinct(tokens(text_col)))
                      .alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))


def stop_tokens(df: DataFrame, text_col: str = "text",
                max_df_frac: float = 0.5) -> DataFrame:
    """Tokens appearing in more than ``max_df_frac`` of documents — the
    corpus-derived stop list. Total count via a 1-row broadcast."""
    counts = token_df_counts(df, text_col)
    total = df.select(F.count(F.lit(1)).alias("_n"))
    return (counts.crossJoin(F.broadcast(total))
            .filter(F.col("df") > F.col("_n") * max_df_frac)
            .select("tok", "df"))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All text stats in one map-only projection."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        char_count(text_col).alias("n_chars_computed"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        punct_ratio(text_col).alias("punct_ratio"),
        mean_word_length(text_col).alias("mean_word_len"),
        quality_score(text_col).alias("quality"),
        lang_id(text_col).alias("lang_pred"),
        fingerprint(text_col).alias("fingerprint"),
    )


def chunk(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
          size: int = 64, overlap: int = 16) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    LLM-training preprocessing step. Pure array expressions (slice over
    the token array, posexplode of window starts): map-only fan-out, no
    shuffle; output rows = ceil(tokens/stride) per doc.

    Returns (id_col, chunk_id, chunk_text, n_chunk_tokens)."""
    stride = size - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than size")
    # tokenize ONCE (let_bound), build every chunk as an array slice
    # INSIDE the projection, and explode the finished chunks — carrying
    # the raw text through the explode would re-split it per chunk row
    # (O(chunks × doc_len) work) and duplicate the full string bytes
    def body(tk):
        starts = F.sequence(F.lit(0),
                            F.greatest(F.size(tk) - 1, F.lit(0)),
                            F.lit(stride))
        return F.transform(starts, lambda s: F.slice(tk, s + 1, size))
    chunks = let_bound(tokens(text_col), body)
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "_piece"))
    return out.select(
        id_col, "chunk_id",
        F.concat_ws(" ", F.col("_piece")).alias("chunk_text"),
        F.size("_piece").cast("int").alias("n_chunk_tokens"))


def pack_sequences(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   seq_len: int = 2048) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay every document's
    tokens end-to-end in ``id_col`` order and cut fixed ``seq_len``
    training sequences across document boundaries — the standard
    LLM-pretraining packing step (no padding waste, documents may
    straddle sequences).

    Returns (id_col, seq_id, tok_start, tok_end): the half-open token
    slice [tok_start, tok_end) of the document that lands in training
    sequence ``seq_id``. Per-doc slices are contiguous and sum to the
    doc's token count; every sequence except the last holds exactly
    ``seq_len`` tokens.

    Plan: per-doc token counts (map-only projection) -> global exclusive
    offsets via the DISTRIBUTED cumsum (``operators.rank.ranged_cumsum``
    on the narrow (id, count) frame — one range exchange, N-way
    parallel; the naive global window would single-task the corpus) ->
    per-doc overlapped-sequence fan-out as an array explode. Shuffled
    bytes are 2 longs per document, independent of document length."""
    from ..operators.rank import ranged_cumsum
    counts = df.select(F.col(id_col),
                       F.size(tokens(text_col)).cast("long")
                       .alias("n_tokens"))
    cum = ranged_cumsum(counts, [id_col], ["n_tokens"])
    off = (F.col("_cum_n_tokens") - F.col("n_tokens")).alias("tok_offset")
    first = F.floor(F.col("tok_offset") / seq_len)
    last = F.floor((F.col("tok_offset") + F.col("n_tokens") - 1) / seq_len)
    fan = (cum.select(id_col, "n_tokens", off)
           .select(id_col, "n_tokens", "tok_offset",
                   F.explode(F.sequence(first, last)).alias("seq_id")))
    tok_start = F.greatest(F.col("seq_id") * seq_len - F.col("tok_offset"),
                           F.lit(0).cast("long"))
    tok_end = F.least((F.col("seq_id") + 1) * seq_len - F.col("tok_offset"),
                      F.col("n_tokens"))
    return fan.select(id_col, "seq_id",
                      tok_start.alias("tok_start"),
                      tok_end.alias("tok_end"))


def source_report(df: DataFrame, text_col: str = "text",
                  source_col: str = "source",
                  lang_col: str | None = None) -> DataFrame:
    """Per-source dataset card — the summary a training-data pipeline
    publishes per corpus slice: document/token volume, mean quality,
    language mix, and the exact-duplicate rate (1 − distinct
    fingerprints / docs).

    ONE grouped aggregation over map-only projections; the distinct
    fingerprint count rides in the same job (Spark plans multi-distinct
    aggregates with an expand, still a single shuffle). Shuffled bytes
    are |sources| × aggregates, independent of corpus size.

    The per-doc stats are all derived from ONE let_bound token array:
    the naive composition (token_count + quality_score + lang_id +
    fingerprint) re-splits the text five times per row — higher-order
    functions fall off whole-stage codegen, so no subexpression
    elimination rescues the repeats (measured: the noop-sink cost of
    this operator was the largest TRUE operator cost in the sf1 suite,
    9.4s, ~2x the single-split form). ``lower`` commutes with the
    single-space split (no lowercase mapping produces or consumes a
    space), so the fingerprint's lowercased tokens come from
    ``transform(tk, lower)`` — same token multiset as splitting
    ``lower(text)``, bit-identical md5."""
    codes = sorted(LANG_PROFILES)
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])

    def body(tk):
        fields = [
            F.size(tk).alias("nt"),
            F.size(F.filter(tk, lambda t: F.array_contains(sw, t)))
             .alias("sw"),
            F.aggregate(tk, F.lit(0), lambda a, t: a + F.length(t))
             .alias("lsum"),
            F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(
                F.transform(tk, F.lower))))).alias("fp"),
        ]
        # r13: the 4 per-language filter scans pack into ONE aggregate
        # traversal (see _lang_packed_accs) — correct while the doc has
        # <= LANG_PACK_LANE_MAX tokens; the extraction below falls back
        # to filter scans past that
        fields.append(F.array(*_lang_packed_accs(tk, LANG_PROFILES))
                      .alias("pk"))
        return F.struct(*fields)

    c = F.col(text_col)
    carry = [F.col(lang_col)] if lang_col else []
    stats = df.select(F.col(source_col).alias("source"), c.alias("_t"),
                      let_bound(tokens(text_col), body).alias("_st"),
                      *carry)
    # quality_score's four bands, recomputed from the bound stats —
    # identical formula, one split instead of three
    swr = F.col("_st.sw").cast("double") / F.col("_st.nt")
    mwl = F.col("_st.lsum").cast("double") / F.col("_st.nt")
    nn = F.length(F.col("_t"))
    pr = ((nn - F.length(F.regexp_replace(F.col("_t"), r"[^\w\s]", "")))
          .cast("double") / nn)
    q = (((nn >= 64) & (nn <= 20000)).cast("double") * 0.25
         + ((swr >= 0.05) & (swr <= 0.6)).cast("double") * 0.25
         + (pr <= 0.2).cast("double") * 0.25
         + ((mwl >= 2.0) & (mwl <= 12.0)).cast("double") * 0.25)
    # lang_id's argmax over (score, -index) structs, scores unpacked
    # from the bound packed accumulators (_st is a materialized struct
    # column, so the lane extractions are cheap field reads); docs past
    # the lane guard rare-path through the exact filter scans on a
    # re-split of the text
    packed = [F.shiftright(F.col("_st.pk")[gi], 16 * i)
               .bitwiseAND(F.lit(LANG_PACK_LANE_MAX)).cast("int")
              for gi, g0 in enumerate(range(0, len(codes), 4))
              for i in range(len(codes[g0:g0 + 4]))]
    lang_expr = (F.when(F.col("_st.nt") <= LANG_PACK_LANE_MAX,
                        _lang_argmax(packed, codes))
                 .otherwise(_lang_argmax(
                     _lang_filter_scores(tokens("_t"), LANG_PROFILES),
                     codes)))
    lang = (F.col(lang_col) if lang_col else lang_expr).alias("_lang")
    base = stats.select(
        "source",
        F.col("_st.nt").alias("_nt"),
        q.alias("_q"),
        lang,
        F.col("_st.fp").alias("_fp"))
    return (base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.round(F.avg("_q"), 4).alias("avg_quality"),
        F.round(F.avg((F.col("_lang") == "en").cast("double")), 4)
         .alias("pct_en"),
        F.countDistinct("_fp").alias("n_unique"),
        F.round(F.lit(1.0) - F.countDistinct("_fp")
                / F.count(F.lit(1)), 4).alias("dup_ratio")))


def normalize_text(col) -> Column:
    """Canonical text normalization for dedup/fingerprint preprocessing:
    lowercase, strip non-alphanumerics to spaces, collapse runs of
    spaces, trim. Pure projection (whole-stage codegen); the regexes are
    RE2-compatible so the DuckDB oracle reproduces them verbatim.

    ONE regexp pass: the spec'd two steps (non-alnum -> ' ', then
    collapse ' +') are equivalent to replacing every maximal run of
    non-alphanumerics (spaces included) with a single space — any mixed
    punct/space run becomes all-spaces after step 1 and one space after
    step 2, which is exactly what ``[^a-z0-9]+ -> ' '`` produces
    directly. Halves the regexp scan over the corpus (the operator was
    regexp-bound at sf10); the oracle keeps the literal two-step form,
    values bit-identical."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


PII_REDACTIONS = [
    # order matters and is part of the contract: URLs first (they may
    # contain digit runs and @), then emails, then bare long digit runs
    ("n_urls", "<URL>"),
    ("n_emails", "<EMAIL>"),
    ("n_long_digits", "<ID>"),
]


def pii_redact(col) -> Column:
    """Replace PII-shaped substrings (same patterns ``pii_counts``
    reports) with typed placeholder tokens — the redaction step a
    training pipeline runs after gating. One chained ``regexp_replace``
    projection, map-only."""
    out = F.col(col) if isinstance(col, str) else col
    for name, repl in PII_REDACTIONS:
        out = F.regexp_replace(out, PII_PATTERNS[name], repl)
    return out


def top_ngram_fraction(col, n: int = 2) -> Column:
    """Gopher-style repetition signal: the fraction of all n-gram
    occurrences claimed by the single MOST FREQUENT n-gram of the
    document. Computed as the longest run in the sorted gram array via
    one ``F.aggregate`` fold — pure projection, no explode, no shuffle;
    docs shorter than ``n`` tokens score 0 (token array let_bound — the
    split runs once per row, not once per gram index).

    The sorted array holds xxhash64 LONGS built with ``gram_at`` point
    lookups — the sf10 profile put ~2/3 of the cost in gram
    CONSTRUCTION (slice allocating an n-array per position), not the
    sort or the string compares (measured: slice+strings 10.1s,
    get+longs 4.3-6.7s for the projection+sort). A hash collision would
    need two DIFFERENT grams of the SAME document to collide
    (P ~ gram_count^2 / 2^65 per doc ~ 1e-15); the init value needs no
    sentinel — a first-gram 'match' against it yields run 0+1 = 1,
    exactly the otherwise branch."""
    def body(tk):
        m = F.greatest(F.size(tk) - F.lit(n - 1), F.lit(0))
        idx = F.when(m > 0, F.sequence(F.lit(1), m)) \
               .otherwise(F.array().cast("array<int>"))
        grams = F.array_sort(
            F.transform(idx,
                        lambda i: F.xxhash64(gram_at(tk, i, n))))
        state = F.named_struct(
            F.lit("prev"), F.lit(0).cast("bigint"), F.lit("run"),
            F.lit(0), F.lit("best"), F.lit(0))
        step = lambda acc, x: F.named_struct(  # noqa: E731
            F.lit("prev"), x,
            F.lit("run"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            F.lit("best"),
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1))))
        best = F.aggregate(grams, state, step)["best"]
        return F.when(m > 0, best.cast("double") / m) \
                .otherwise(F.lit(0.0))
    return let_bound(tokens(col), body)


def gopher_rules(col, stopwords: list[str] | None = None,
                 min_words: int = 20, max_words: int = 100_000,
                 min_mean_wl: float = 2.0, max_mean_wl: float = 12.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2) -> dict[str, Column]:
    """Gopher-style document quality gates (Rae et al. 2021 §A1.1) as a
    dict of named boolean Columns plus the conjunction under ``'pass'``
    — attach whichever subset a pipeline wants with ``withColumns``.

    Rules (all pure projections — scan-bound at any scale, no shuffle):
      words_ok   : token count in [min_words, max_words]
      mwl_ok     : mean word length in [min_mean_wl, max_mean_wl]
      symbols_ok : '#'/ellipsis occurrences per word <= max_symbol_ratio
      alpha_ok   : fraction of words containing a letter >= min_alpha_frac
      stop_ok    : at least min_stop_hits stopword occurrences

    Thresholds are parameters (the paper's corpus constants are poor
    fits for short synthetic docs); every expression is reproducible in
    ANSI SQL for oracle checks."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks).cast("double")
    mwl = mean_word_length(c)
    n_sym = (F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\."), F.lit(0)))
             .cast("double"))
    n_alpha = F.size(F.filter(
        toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    rules = {
        "words_ok": (n >= min_words) & (n <= max_words),
        "mwl_ok": (mwl >= min_mean_wl) & (mwl <= max_mean_wl),
        "symbols_ok": (n_sym / n) <= max_symbol_ratio,
        "alpha_ok": (n_alpha / n) >= min_alpha_frac,
        "stop_ok": n_stop >= min_stop_hits,
    }
    out = None
    for r in rules.values():
        out = r if out is None else (out & r)
    rules["pass"] = out
    return rules
