"""Training-data pipeline operators: recall/quality pins for the
approximate paths (MinHash-LSH, SimHash, IVF) against their exact
counterparts, plus plumbing checks."""
import re

import numpy as np
import numpy.testing as npt
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"]


@pytest.fixture(scope="module")
def emb(tables):
    return tables["embeddings"]


def _np_topk(df, qs, k, centroids=None, nprobe=None):
    """Independent exact top-k reference for the ANN family, in numpy:
    [(query_id, neighbor_id, cosine, rank)] by (cosine rounded to 6
    digits desc, neighbor_id asc), every row with the query's id
    excluded, a zero vector scoring 0. With ``centroids`` a query only
    sees rows whose nearest centroid is among its ``nprobe`` nearest."""
    def unit(p):
        X = np.array(p["embedding"].tolist(), dtype=np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return X / np.where(n == 0, 1.0, n), p["vec_id"].to_numpy()
    U, ids = unit(df.select("vec_id", "embedding").toPandas())
    QU, qids = unit(qs.select("vec_id", "embedding").toPandas())
    out = []
    for qid, uq in zip(qids, QU):
        cos, keep = np.round(U @ uq, 6), ids != qid
        if centroids is not None:
            probed = np.argsort(-(centroids @ uq))[:nprobe]
            keep &= np.isin(np.argmax(U @ centroids.T, axis=1), probed)
        c, i = cos[keep], ids[keep]
        out += [(qid, i[j], c[j], r + 1)
                for r, j in enumerate(np.lexsort((i, -c))[:k])]
    return out


def test_token_count_matches_python(docs, pdf_tables):
    from handyspark_spark.pipeline import text as TX
    got = (docs.select("doc_id", TX.token_count("text").alias("n"))
           .toPandas().set_index("doc_id")["n"])
    exp = pdf_tables["documents"].set_index("doc_id")["text"] \
        .map(lambda t: len(t.split(" ")))
    npt.assert_array_equal(got.sort_index().values, exp.sort_index().values)


def test_fingerprint_dedup_groups_are_token_set_equal(docs, pdf_tables):
    from handyspark_spark.pipeline.dedup import fingerprint_duplicates
    groups = fingerprint_duplicates(docs).collect()
    assert len(groups) > 0
    texts = pdf_tables["documents"].set_index("doc_id")["text"]
    for g in groups[:5]:
        sets = {frozenset(texts[i].lower().split(" ")) for i in g.doc_ids}
        assert len(sets) == 1


def test_minhash_lsh_recall(docs):
    """LSH candidates must contain (almost) all truly-similar pairs."""
    from handyspark_spark.pipeline.dedup import (minhash_lsh_pairs,
                                                 ngram_jaccard_pairs)
    truth = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.98).collect()}
    cand = {(r.id_a, r.id_b) for r in
            minhash_lsh_pairs(docs, num_hashes=16, bands=2).collect()}
    assert truth, "fixture should contain near-dup docs"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} too low"


def test_jaccard_prefix_equals_inverted(docs, monkeypatch):
    """The prefix-filtered plan (Bayardo WWW'07) must return the EXACT
    pair set + scores of the naive inverted-index join, with and
    without the max_token_df guard. A zero row cap turns the bitmask
    plan off; a prefix threshold above 1 forces the inverted join."""
    from handyspark_spark.pipeline import dedup
    monkeypatch.setattr(dedup, "_BITMASK_MAX_ROWS", 0)

    def pairs(**kw):
        return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                dedup.ngram_jaccard_pairs(docs, **kw).collect()}

    for kw in ({"threshold": 0.9}, {"threshold": 0.6},
               {"threshold": 0.6, "max_token_df": 80}):
        a = pairs(**kw)
        with monkeypatch.context() as mp:
            mp.setattr(dedup, "_PREFIX_MIN_THRESHOLD", 2.0)
            b = pairs(**kw)
        assert a == b, f"prefix != inverted under {kw}"
    assert pairs(threshold=0.9), "fixture should contain near-dup pairs"


def test_simhash_separates_similar_from_dissimilar(docs):
    from handyspark_spark.pipeline.dedup import (ngram_jaccard_pairs,
                                                 simhash_fingerprints)
    fps = {r.doc_id: r.simhash for r in
           simhash_fingerprints(docs).collect()}
    sim_pairs = [(r.id_a, r.id_b) for r in
                 ngram_jaccard_pairs(docs, threshold=1.0).collect()]
    assert sim_pairs

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    same = [ham(fps[a], fps[b]) for a, b in sim_pairs[:50]]
    ids = sorted(fps)[:30]
    allp = [ham(fps[a], fps[b]) for i, a in enumerate(ids)
            for b in ids[i + 1:]]
    assert sum(same) / len(same) < sum(allp) / len(allp)
    # identical token sets -> identical simhash
    assert max(same) == 0


def test_ivf_recall_vs_brute_force(emb):
    from handyspark_spark.pipeline.similarity import ivf_topk
    q = emb.filter(F.col("vec_id") < 16)
    approx = ivf_topk(emb, q, k=5, n_centroids=8, nprobe=4).collect()
    truth = {(r[0], r[1]) for r in _np_topk(emb, q, 5)}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low for nprobe=half"


def test_srp_lsh_neardup_finds_top_pairs(emb):
    from handyspark_spark.pipeline.dedup import embedding_neardup_pairs
    from handyspark_spark.pipeline.similarity import lsh_neardup_pairs
    exact = {(r.id_a, r.id_b) for r in
             embedding_neardup_pairs(emb, threshold=0.45).collect()}
    approx = {(r.id_a, r.id_b) for r in
              lsh_neardup_pairs(emb, threshold=0.45, bits=4,
                                tables=4).collect()}
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5
    # no false positives below threshold by construction (exact verify step)
    assert approx <= exact or not exact


def test_lang_id_runs_and_is_deterministic(docs):
    from handyspark_spark.pipeline import text as TX
    a = docs.select("doc_id", TX.lang_id("text").alias("l")).collect()
    b = docs.select("doc_id", TX.lang_id("text").alias("l")).collect()
    assert a == b
    assert all(r.l in ("de", "en", "es", "fr", "und") for r in a)


def test_lang_id_packed_equals_filter_scan(spark, docs):
    """The r13 packed-lane single-pass scorer must equal the per-language
    filter scans on the corpus AND on crafted edge rows (ties resolved
    by code order, all-zero -> 'und', shared words — 'la'/'de'/'en' —
    counted for every owning profile)."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline import text as TX

    def filter_path(c):
        tk = TX.tokens(c)
        return TX._lang_argmax(TX._lang_filter_scores(tk, TX.LANG_PROFILES),
                               sorted(TX.LANG_PROFILES))

    edge = spark.createDataFrame(
        [(1, "the la de en und zz"),          # cross-profile shared words
         (2, "xyzzy qqq www"),                # zero hits -> und
         (3, "the el le der"),                # 4-way tie -> code order
         (4, ""),                             # empty text
         (5, "de de de la la en en que und")],
        "doc_id long, text string")
    for frame in (docs, edge):
        got = frame.select(TX.lang_id("text").alias("l")).collect()
        want = frame.select(filter_path("text").alias("l")).collect()
        assert got == want


def test_lang_id_lane_overflow_fallback(spark, monkeypatch):
    """Past LANG_PACK_LANE_MAX tokens the guard must route to the exact
    filter scans; shrinking the lane cap forces the fallback and both
    branches must agree (a lane counter that silently wrapped would
    not)."""
    from handyspark_spark.pipeline import text as TX
    big = spark.createDataFrame(
        [(1, "the and " * 40), (2, "el la que " * 40)],
        "doc_id long, text string")
    want = big.select("doc_id", TX.lang_id("text").alias("l")).collect()
    monkeypatch.setattr(TX, "LANG_PACK_LANE_MAX", 16)   # force fallback
    got = big.select("doc_id", TX.lang_id("text").alias("l")).collect()
    assert got == want
    assert [r.l for r in got] == ["en", "es"]


def test_minhash_lsh_groups_cover_exact_dups(docs):
    """Docs with identical token sets must land in the same cluster."""
    from handyspark_spark.pipeline.dedup import (fingerprint_duplicates,
                                                 minhash_lsh_groups)
    clusters = {r.doc_id: r.cluster_id for r in
                minhash_lsh_groups(docs, num_hashes=16, bands=2).collect()}
    for g in fingerprint_duplicates(docs).collect():
        cl = {clusters[i] for i in g.doc_ids}
        assert len(cl) == 1
    # linear output: one row per doc
    assert len(clusters) == docs.count()


def test_hash_sample_deterministic_and_sized(docs):
    from handyspark_spark.pipeline.sample import hash_sample
    a = {r.doc_id for r in hash_sample(docs, "doc_id", 0.2).collect()}
    b = {r.doc_id for r in
         hash_sample(docs.repartition(7), "doc_id", 0.2).collect()}
    assert a == b                      # layout-independent membership
    n = docs.count()
    assert 0.1 * n < len(a) < 0.3 * n  # ~fraction


def test_split_assign_disjoint_exhaustive_stable(docs):
    from handyspark_spark.pipeline.sample import split_assign
    out = split_assign(docs, "doc_id").select("doc_id", "split").collect()
    assert len(out) == docs.count()
    splits = {r.doc_id: r.split for r in out}
    # membership stable when the corpus grows (subset keeps its splits)
    sub = split_assign(docs.filter("doc_id < 100"), "doc_id") \
        .select("doc_id", "split").collect()
    for r in sub:
        assert splits[r.doc_id] == r.split


def test_balanced_sample_counts(docs):
    from handyspark_spark.pipeline.sample import balanced_sample
    out = balanced_sample(docs, "lang", "doc_id", 5)
    counts = out.groupBy("lang").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_jaccard_bitmask_63_token_guard(spark):
    """Regression: 64-token vocab must fall back, not crash on 1<<63."""
    import pandas as pd
    texts = [" ".join(f"t{i}" for i in range(64))] * 3 + ["t0 t1"]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": texts}))
    from handyspark_spark.pipeline.dedup import ngram_jaccard_pairs
    pairs = ngram_jaccard_pairs(df, threshold=0.99).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1), (0, 2), (1, 2)}


def _pair_branch(out):
    """Which pair plan built ``out``: the bitmask self-join compares the
    ``_m`` token masks; the prefix plan verifies candidates with
    array_intersect. (A capped plan's exploded postings sit under a
    local checkpoint, so an explode need not print.)"""
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    if re.search(r"\b_m#", plan):
        return "bitmask"
    return "prefix" if "array_intersect" in plan else "inverted"


def test_bitmask_guard_refuses_quadratic_above_row_cap(spark, monkeypatch):
    """Above ``_BITMASK_MAX_ROWS`` documents the O(n²) broadcast
    self-join is refused and the call runs the prefix token-join plan
    with the same pairs; at or under the cap the bitmask plan runs."""
    import pandas as pd
    from handyspark_spark.pipeline import dedup
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(50), "text": ["a b c"] * 50}))
    monkeypatch.setattr(dedup, "_BITMASK_MAX_ROWS", 10)
    out = dedup.ngram_jaccard_pairs(df, threshold=0.99)
    assert _pair_branch(out) == "prefix"
    assert out.count() == 50 * 49 // 2
    small = dedup.ngram_jaccard_pairs(df.limit(3), threshold=0.99)
    assert _pair_branch(small) == "bitmask"
    assert small.count() == 3


# 40 docs over a 20-token vocabulary (bitmask-sized): five templates,
# each doc drops up to two template tokens and may add one, so the
# corpus has near-duplicates, subsets and df > 5 postings per token
def _small_vocab_texts():
    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(20)]
    templates = [rng.sample(vocab, rng.randint(6, 10)) for _ in range(5)]
    texts = []
    for i in range(40):
        toks = list(templates[i % 5])
        for _ in range(rng.randint(0, 2)):
            toks.remove(rng.choice(toks))
        if rng.random() < 0.3:
            toks.append(rng.choice(vocab))
        texts.append(" ".join(toks))
    return texts


@pytest.fixture(scope="module")
def small_vocab(spark):
    import pandas as pd
    texts = _small_vocab_texts()
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    return df, {i: set(t.split(" ")) for i, t in enumerate(texts)}


def _ref_inter(sets, k=None):
    """|A∩B| per pair (a < b), counted over each token's postings cut to
    its ``k`` smallest ids (all ids when ``k`` is None)."""
    from collections import Counter
    from itertools import combinations
    inter = Counter()
    for tok in set().union(*sets.values()):
        ids = sorted(i for i, s in sets.items() if tok in s)[:k]
        inter.update(combinations(ids, 2))
    return inter


def _ref_prefix_candidates(sets, t, k):
    """Capped prefix candidates: tokens ordered (df, token), each doc
    indexes its first |A| - floor(t·|A|) + 1, postings cut to ``k``."""
    import math
    from collections import Counter, defaultdict
    from itertools import combinations
    df = Counter(tok for s in sets.values() for tok in s)
    post = defaultdict(list)
    for i in sorted(sets):
        toks = sorted(sets[i], key=lambda w: (df[w], w))
        n = len(toks)
        post_toks = toks[:max(n - math.floor(t * n) + 1, 0)]
        for w in post_toks:
            post[w].append(i)
    return {p for ids in post.values() for p in combinations(ids[:k], 2)}


def _ref_jaccard(sets, t, k=None, prefix=False):
    """Pure-Python Jaccard pairs: exact scores over prefix candidates
    when ``prefix``, else intersections over capped postings."""
    if prefix:
        inter = {(a, b): len(sets[a] & sets[b])
                 for a, b in _ref_prefix_candidates(sets, t, k)}
    else:
        inter = _ref_inter(sets, k)
    out = {}
    for (a, b), i in inter.items():
        j = i / (len(sets[a]) + len(sets[b]) - i)
        if j >= t:
            out[a, b] = round(j, 9)
    return out


def _ref_containment(sets, t, k=None):
    out = {}
    for (a, b), i in _ref_inter(sets, k).items():
        ca, cb = round(i / len(sets[a]), 6), round(i / len(sets[b]), 6)
        if max(ca, cb) >= t:
            out[a, b] = (ca, cb)
    return out


@pytest.mark.parametrize("branch,threshold,consts,cap", [
    ("bitmask", 0.6, {}, None),
    ("prefix", 0.6, {"_BITMASK_MAX_ROWS": 0}, None),
    ("prefix_capped", 0.8, {}, 6),
    ("inverted", 0.6, {"_BITMASK_MAX_ROWS": 0,
                       "_PREFIX_MIN_THRESHOLD": 2.0}, None),
    ("inverted_capped", 0.3, {}, 6),
], ids=["bitmask", "prefix", "prefix_capped", "inverted",
        "inverted_capped"])
def test_jaccard_branches_match_set_reference(small_vocab, monkeypatch,
                                              branch, threshold, consts,
                                              cap):
    """Each Jaccard plan, forced through its module constant or a cap,
    equals a pure-Python reference of its semantics: exact Jaccard
    uncapped; exact scores over the capped prefix candidates; capped
    intersections over full sizes on the inverted join. A cap selects
    its capped plan on this bitmask-sized vocabulary too, and binds:
    the uncapped bitmask answer would differ."""
    from handyspark_spark.pipeline import dedup
    df, sets = small_vocab
    for name, value in consts.items():
        monkeypatch.setattr(dedup, name, value)
    out = dedup.ngram_jaccard_pairs(df, threshold=threshold,
                                    max_postings_per_token=cap)
    assert _pair_branch(out) == branch.split("_")[0]
    got = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in out.collect()}
    exp = _ref_jaccard(sets, threshold, cap, prefix=branch == "prefix_capped")
    assert got == exp and exp
    assert cap is None or exp != _ref_jaccard(sets, threshold)


@pytest.mark.parametrize("branch,threshold,consts,cap", [
    ("bitmask_subset", 1.0, {}, None),
    ("bitmask", 0.6, {}, None),
    ("inverted", 0.6, {"_BITMASK_MAX_ROWS": 0}, None),
    ("inverted_capped", 1.0, {}, 8),
], ids=["bitmask_subset", "bitmask", "inverted", "inverted_capped"])
def test_containment_branches_match_set_reference(small_vocab, monkeypatch,
                                                  branch, threshold,
                                                  consts, cap):
    """Each containment plan equals a pure-Python reference: on the
    bitmask subset form (threshold 1.0) the two columns are subset
    indicators, elsewhere rounded ratios over (capped) postings. A cap
    selects the capped inverted count on this bitmask-sized vocabulary
    too, and binds."""
    from handyspark_spark.pipeline import dedup
    df, sets = small_vocab
    for name, value in consts.items():
        monkeypatch.setattr(dedup, name, value)
    out = dedup.containment_pairs(df, threshold=threshold,
                                  max_postings_per_token=cap)
    assert _pair_branch(out) == branch.split("_")[0]
    got = {(r.id_a, r.id_b): (r.containment_a_in_b, r.containment_b_in_a)
           for r in out.collect()}
    exp = _ref_containment(sets, threshold, cap)
    if branch == "bitmask_subset":
        exp = {p: (float(ca == 1.0), float(cb == 1.0))
               for p, (ca, cb) in exp.items()}
    assert got == exp and exp
    assert cap is None or exp != _ref_containment(sets, threshold)


@pytest.mark.parametrize("op", ["jaccard", "containment"])
@pytest.mark.parametrize("n_rows", [0, 1], ids=["empty", "one_row"])
def test_pairs_on_degenerate_corpus_are_empty(spark, op, n_rows):
    """An empty corpus has no vocabulary, so no bitmask plan: the call
    falls through to a token-join plan and returns no pairs (as DuckDB
    does), and one document has no pair to emit."""
    from handyspark_spark.pipeline import dedup
    df = spark.createDataFrame([(1, "a b c")][:n_rows],
                               "doc_id int, text string")
    fn = (dedup.ngram_jaccard_pairs if op == "jaccard"
          else dedup.containment_pairs)
    assert fn(df).collect() == []


def _chunk_crossing_corpus(spark):
    """1,200 8-d vectors in one sign cell (sign_bits=2: the first two
    dims are >= 0), so one group crosses the pair kernel's 1024-row
    chunk. Every 100th row is a zero vector, rows 1100.. duplicate rows
    0.., and ids are shuffled against row order."""
    import pandas as pd
    rng = np.random.RandomState(7)
    X = rng.randn(1200, 8)
    X[:, :2] = np.abs(X[:, :2])
    X[1100:] = X[:100]
    X[::100] = 0.0
    return spark.createDataFrame(pd.DataFrame(
        {"vec_id": rng.permutation(1200).astype("int64") + 1,
         "embedding": [r.tolist() for r in X]}))


def test_blas_blocked_matches_exact_self_join(spark, emb):
    """The blocked distributed BLAS path must emit exactly the same pair
    set + cosines as the expression-based exact self-join, for any block
    count (including blocks > distinct ids and blocks=1). The second
    corpus puts > 1024 rows in one group (blocks=1), with zero vectors
    and exact duplicates."""
    from handyspark_spark.pipeline.dedup import embedding_neardup_pairs
    from handyspark_spark.pipeline.similarity import neardup_pairs_blas
    for sub, thr in ((emb.limit(300), 0.4),
                     (_chunk_crossing_corpus(spark), 0.9)):
        exact = {(r.id_a, r.id_b): round(r.cosine, 6) for r in
                 embedding_neardup_pairs(sub, threshold=thr).collect()}
        assert exact
        for blocks in (1, 5):
            got = {(r.id_a, r.id_b): round(r.cosine, 6) for r in
                   neardup_pairs_blas(sub, threshold=thr,
                                      blocks=blocks).collect()}
            assert got == exact, f"blocks={blocks}"


def test_semdedup_chunked_cell_matches_expression_reference(spark):
    """A cell of 1,200 rows crosses the pair kernel's 1024-row chunk:
    semdedup_pairs equals the expression self-join blocked on the same
    cell, exact duplicates included (cosine 1.0) and zero vectors
    paired with nothing."""
    from handyspark_spark.pipeline.dedup import embedding_neardup_pairs
    from handyspark_spark.pipeline.similarity import (semdedup_pairs,
                                                      sign_cell_expr)
    df = _chunk_crossing_corpus(spark)
    cells = df.withColumn(
        "cell", sign_cell_expr(F.col("embedding"), 2))
    exact = {(r.id_a, r.id_b): r.cosine for r in
             embedding_neardup_pairs(cells, threshold=0.9,
                                     block_col="cell").collect()}
    got = semdedup_pairs(df, threshold=0.9, sign_bits=2).collect()
    assert {r.cell for r in got} == {3}
    assert {(r.id_a, r.id_b): r.cosine for r in got} == exact
    assert sum(c == 1.0 for c in exact.values()) >= 99


def test_blas_path_never_materializes_on_driver():
    """Scale contract: no toPandas()/collect() of the corpus inside
    neardup_pairs_blas (it previously collected the whole corpus to the
    driver and broadcast the dense matrix)."""
    import inspect
    from handyspark_spark.pipeline import similarity
    src = inspect.getsource(similarity.neardup_pairs_blas)
    assert "toPandas" not in src and ".collect()" not in src \
        and ".broadcast(" not in src


def test_zero_norm_vectors_not_neardups(spark):
    import pandas as pd
    from handyspark_spark.pipeline.similarity import neardup_pairs_blas
    pdf = pd.DataFrame({"vec_id": [0, 1, 2],
                        "embedding": [[0.0, 0.0], [1.0, 0.0], [1.0, 0.0]]})
    df = spark.createDataFrame(pdf)
    pairs = {(r.id_a, r.id_b) for r in
             neardup_pairs_blas(df, threshold=0.99).collect()}
    assert pairs == {(1, 2)}


def test_chunking_reconstructs_and_overlaps(docs, pdf_tables):
    from handyspark_spark.pipeline.text import chunk
    out = (chunk(docs, size=64, overlap=16).toPandas()
           .sort_values(["doc_id", "chunk_id"]))
    texts = pdf_tables["documents"].set_index("doc_id")["text"]
    # every doc covered; first chunk is the doc's first 64 tokens
    assert set(out.doc_id) == set(texts.index)
    g = out.groupby("doc_id").first()
    for doc_id in list(texts.index)[:20]:
        toks = texts[doc_id].split(" ")
        assert g.loc[doc_id, "chunk_text"] == " ".join(toks[:64])
    # consecutive chunks overlap by 16 tokens
    two = out[out.doc_id == out.doc_id.iloc[0]]
    if len(two) > 1:
        a = two.iloc[0].chunk_text.split(" ")
        b = two.iloc[1].chunk_text.split(" ")
        assert a[48:] == b[:len(a) - 48]


def test_to_metrics_rdd(emb):
    from pyspark.sql import functions as F

    from handyspark_spark import toHandy
    df = emb.select(
        F.array(F.lit(0.3), F.lit(0.7)).alias("probability"),
        (F.col("label") >= 5).cast("int").alias("label"))
    rdd = toHandy(df).to_metrics_RDD("probability", "label")
    first = rdd.take(2)
    assert all(isinstance(t, tuple) and len(t) == 2 for t in first)
    assert all(abs(t[0] - 0.7) < 1e-9 for t in first)


def test_lsh_pairs_no_self_pairs_on_duplicate_ids(spark):
    import pandas as pd

    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    pdf = pd.DataFrame({"doc_id": [1, 1, 2],
                        "text": ["a b c d", "a b c d", "a b c d"]})
    df = spark.createDataFrame(pdf)
    pairs = {(r.id_a, r.id_b) for r in
             minhash_lsh_pairs(df, num_hashes=8, bands=2).collect()}
    assert pairs == {(1, 2)}


def test_lsh_pairs_duplicate_id_different_text_deterministic(
        spark, lsh_pairs_ref):
    """A duplicate id carrying DIFFERENT texts is canonicalized to ONE
    deterministic signature (min sig array) — repeat invocations, the
    capped plan (whose bucket counts and pair emission read the same
    canonical rows) and the DISTINCT reference must all agree on the
    resulting pair set (a plain dropDuplicates could let two branches
    of one plan keep different arbitrary rows)."""
    import pandas as pd

    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    # id=1 appears twice with different texts; one variant collides
    # with doc 2, the other with doc 3 — which pairs appear depends
    # entirely on which row is kept, so determinism is observable.
    pdf = pd.DataFrame({
        "doc_id": [1, 1, 2, 3, 4],
        "text": ["a b c d", "p q r s", "a b c d x",
                 "p q r s y", "zz yy xx ww"]})
    df = spark.createDataFrame(pdf)
    runs = [
        {(r.id_a, r.id_b) for r in
         minhash_lsh_pairs(df, num_hashes=8, bands=4,
                           max_bucket_size=cap).collect()}
        for cap in (None, None, 50)]
    assert runs[0] == runs[1] == runs[2] == lsh_pairs_ref(df, 8, 4, None)
    # only ONE canonical text represents id 1, so it can never pair
    # with both twins (that would require banding both variants)
    assert not ((1, 2) in runs[0] and (1, 3) in runs[0])


def test_lsh_pairs_emit_once_equals_distinct(spark, lsh_pairs_ref):
    """The emit-once pair stream must equal a DISTINCT bucket self-join
    exactly — including under a bucket cap, where a pair whose FIRST
    collision bucket was dropped as oversized must still emit from its
    first surviving bucket."""
    import pandas as pd

    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    rng = __import__("numpy").random.RandomState(3)
    words = [f"w{i}" for i in range(40)]
    rows = []
    # clusters of near-identical docs (high collision rate across bands)
    # plus one boilerplate phrase shared by MANY docs to force an
    # oversized bucket under a small cap
    for i in range(120):
        base = [words[j] for j in rng.choice(40, 8, replace=False)]
        if i % 3 == 0:
            base = ["common", "boiler", "plate", "phrase"] + base[:2]
        rows.append((i, " ".join(base)))
        if i % 5 == 0:  # near-duplicate twin
            rows.append((i + 1000, " ".join(base + [f"x{i}"])))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "text"]))
    for cap in (None, 10, 3):
        got = {(r.id_a, r.id_b) for r in
               minhash_lsh_pairs(df, num_hashes=8, bands=4,
                                 max_bucket_size=cap).collect()}
        exp = lsh_pairs_ref(df, 8, 4, cap)
        assert got == exp and (cap is None or exp)


def test_lsh_pairs_capped_plan_is_lazy(spark, docs):
    """Building the capped plan runs no Spark job, and the plan carries
    no oversized-bucket keys as literals: the cap is one bucket-count
    window, so the plan text is the same for any cap value."""
    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    sc = spark.sparkContext
    plans = []
    for cap in (2, 500):
        sc.setJobGroup("lsh-build", "lsh-build")
        try:
            out = minhash_lsh_pairs(docs, num_hashes=16, bands=2,
                                    max_bucket_size=cap)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup("lsh-build")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" in plan
        # expression ids and lambda variable names differ per build
        plans.append(re.sub(r"(#|x_)\d+L?", "", plan).replace(
            f"<= {cap})", "<= CAP)"))
    assert plans[0] == plans[1]


def test_lsh_pairs_uncapped_plan_has_two_exchanges(docs):
    """Without a cap the band-hash arrays are not masked: the plan keeps
    its two exchanges (id canonicalization, bucket aggregate) and has
    no window."""
    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    plan = minhash_lsh_pairs(docs, num_hashes=16, bands=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange ", plan)) == 2
    assert "Window" not in plan


def test_fingerprint_of_null_text_is_null(spark):
    """A NULL text has a NULL fingerprint, as DuckDB's
    ``md5(array_to_string(...))`` gives: it groups with no empty
    document, and fingerprint decontamination keeps it against a
    benchmark that holds an empty text, as the exact and n-gram
    methods do."""
    from handyspark_spark.pipeline.dedup import (decontaminate,
                                                 decontaminate_bloom,
                                                 fingerprint_duplicates)
    from handyspark_spark.pipeline.text import fingerprint
    df = spark.createDataFrame(
        [(1, None), (2, "a b c d"), (3, "q r s t"), (4, ""), (5, "d c b a")],
        "doc_id long, text string")
    fps = {r.doc_id: r.fp for r in
           df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] is None and fps[4] is not None
    groups = sorted(sorted(r.doc_ids) for r in
                    fingerprint_duplicates(df).collect())
    assert groups == [[2, 5]]
    bench = spark.createDataFrame([("",), ("b a c d",)], "text string")
    for method in ("exact", "fingerprint", "ngram"):
        kept = {r.doc_id for r in
                decontaminate(df, bench, method=method).collect()}
        assert 1 in kept and 3 in kept, method
    kept = {r.doc_id for r in decontaminate_bloom(df, bench).collect()}
    assert kept == {1, 3}


def test_connected_components_transitive_closure(spark):
    """Chain a-b-c-d plus an isolated pair must collapse to min-label
    components (exact transitive closure, which one-round LSH grouping
    can't guarantee)."""
    from handyspark_spark.pipeline.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    comp = {r.node: r.component for r in
            connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_connected_components_on_lsh_output(docs):
    """End-to-end: LSH candidates -> exact components; every fingerprint
    dup group lands in one component."""
    from handyspark_spark.pipeline.dedup import (connected_components,
                                                 fingerprint_duplicates,
                                                 minhash_lsh_pairs)
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=2)
    comp = {r.node: r.component for r in
            connected_components(pairs).collect()}
    for g in fingerprint_duplicates(docs).collect():
        cs = {comp[i] for i in g.doc_ids if i in comp}
        assert len(cs) <= 1


def test_asof_join_matches_pandas_merge_asof(spark):
    import numpy as np
    import pandas as pd

    from handyspark_spark.operators.asof import asof_join
    rng = np.random.RandomState(7)
    left = pd.DataFrame({
        "k": rng.randint(0, 5, 200),
        "t": np.sort(rng.uniform(0, 100, 200))})
    right = pd.DataFrame({
        "k": rng.randint(0, 5, 80),
        "t": np.sort(rng.uniform(0, 100, 80)),
        "val": np.arange(80, dtype=float)})
    for direction in ("backward", "forward"):
        got = (asof_join(spark.createDataFrame(left),
                         spark.createDataFrame(right),
                         on="t", by="k", direction=direction)
               .toPandas().sort_values(["k", "t"]).reset_index(drop=True))
        exp = pd.merge_asof(left.sort_values("t"), right.sort_values("t"),
                            on="t", by="k", direction=direction) \
            .sort_values(["k", "t"]).reset_index(drop=True)
        import numpy.testing as npt
        npt.assert_array_almost_equal(got["val"].fillna(-1).values,
                                      exp["val"].fillna(-1).values)


def test_components_seeded_equals_unseeded(docs):
    """Seeding from capped bucket minima must not change the fixpoint."""
    from handyspark_spark.pipeline.dedup import (connected_components,
                                                 minhash_lsh_groups,
                                                 minhash_lsh_pairs)
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=2,
                              max_bucket_size=100)
    seed = (minhash_lsh_groups(docs, num_hashes=16, bands=2,
                               max_bucket_size=100)
            .withColumnRenamed("doc_id", "node")
            .withColumnRenamed("cluster_id", "component"))
    a = {r.node: r.component for r in
         connected_components(pairs).collect()}
    b = {r.node: r.component for r in
         connected_components(pairs, initial=seed).collect()}
    assert a == b


def test_fused_lsh_components_match_clique_closure(docs):
    """minhash_lsh_components (persisted buckets -> star edges + seed)
    yields exactly the components of the full clique pair list."""
    from handyspark_spark.pipeline.dedup import (connected_components,
                                                 minhash_lsh_components,
                                                 minhash_lsh_pairs)
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=2,
                              max_bucket_size=100)
    want = {r.node: r.component for r in
            connected_components(pairs).collect()}
    got = {r.node: r.component for r in
           minhash_lsh_components(docs, num_hashes=16, bands=2,
                                  max_bucket_size=100).collect()}
    assert got == want


def test_components_pointer_jumping_long_chain(spark):
    """A 40-node chain converges within the default iteration budget
    thanks to pointer jumping (plain propagation would need 40 rounds)."""
    from handyspark_spark.pipeline.dedup import connected_components
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    comp = {r.node: r.component for r in
            connected_components(pairs, max_iterations=10).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 41


def test_capped_groups_keep_overcap_docs_as_singletons(docs):
    from handyspark_spark.pipeline.dedup import minhash_lsh_groups
    capped = minhash_lsh_groups(docs, num_hashes=16, bands=2,
                                max_bucket_size=5)
    # complete doc->cluster map: every doc appears exactly once
    assert capped.count() == docs.count()
    assert capped.select("doc_id").distinct().count() == docs.count()


def test_components_raise_on_nonconvergence(spark, monkeypatch):
    import pytest as _pytest

    from handyspark_spark.pipeline import dedup
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    # force the distributed loop: the driver union-find fast path has
    # no iteration limit to trip
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 0)
    with _pytest.raises(RuntimeError, match="converge"):
        dedup.connected_components(pairs, max_iterations=1)


def test_decontaminate_methods(spark, docs):
    """All three collision keys remove the benchmark docs themselves and
    anything sharing the key; ngram is the strictest (13-token shingle)."""
    from handyspark_spark.pipeline.dedup import decontaminate
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    n_docs = docs.count()
    for method in ("exact", "fingerprint", "ngram"):
        out = decontaminate(docs, bench, method=method)
        kept = {r.doc_id for r in out.select("doc_id").collect()}
        # every benchmark doc collides with itself -> always removed
        assert not any(i % 17 == 0 for i in kept)
        assert len(kept) < n_docs
        assert out.columns == docs.columns  # passthrough schema
    with pytest.raises(ValueError):
        decontaminate(docs, bench, method="nope")


def test_decontaminate_ngram_catches_partial_overlap(spark):
    """A training doc embedding a verbatim 13-token benchmark span is
    caught by ngram (but survives exact/fingerprint)."""
    from handyspark_spark.pipeline.dedup import decontaminate
    span = " ".join(f"w{i}" for i in range(13))
    train = spark.createDataFrame(
        [(1, "prefix " + span + " suffix"), (2, "totally different text")],
        "doc_id long, text string")
    bench = spark.createDataFrame([(99, span)], "doc_id long, text string")
    for method, expect in [("exact", {1, 2}), ("ngram", {2})]:
        kept = {r.doc_id for r in
                decontaminate(train, bench, method=method).collect()}
        assert kept == expect, method


def test_repetition_ratio_edges(spark):
    from handyspark_spark.pipeline.text import repetition_ratio
    df = spark.createDataFrame(
        [(1, "a b a b a b c"),       # 5 trigrams, 3 distinct -> 0.4
         (2, "x y"),                 # shorter than k -> 0.0
         (3, "u v w"),               # exactly one trigram -> 0.0
         (4, "r r r r r r")],        # 4 identical trigrams -> 0.75
        "doc_id long, text string")
    got = {r.doc_id: r.rep for r in
           df.select("doc_id",
                     F.round(repetition_ratio("text", 3), 6).alias("rep"))
           .collect()}
    assert got == {1: 0.4, 2: 0.0, 3: 0.0, 4: 0.75}


def test_pii_counts(spark):
    from handyspark_spark.pipeline.text import pii_counts
    df = spark.createDataFrame(
        [(1, "mail a@b.com and c.d@e.org plus https://x.y/z id 123456789"),
         (2, "clean text only")],
        "doc_id long, text string")
    rows = {r.doc_id: (r.n_emails, r.n_urls, r.n_long_digits)
            for r in df.select("doc_id", *pii_counts("text")).collect()}
    assert rows == {1: (2, 1, 1), 2: (0, 0, 0)}


def test_token_df_and_stop_tokens(spark):
    from handyspark_spark.pipeline.text import stop_tokens, token_df_counts
    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran"), (3, "the the end")],
        "doc_id long, text string")
    dfc = {r.tok: r.df for r in token_df_counts(df).collect()}
    assert dfc["the"] == 3          # per-doc DISTINCT: doc 3 counts once
    assert dfc["cat"] == 1
    stops = {r.tok for r in stop_tokens(df, max_df_frac=0.5).collect()}
    assert stops == {"the"}


def test_label_centroids_assembled_matches_numpy(emb):
    import numpy as np

    from handyspark_spark.pipeline.similarity import label_centroids
    got = {r.label: np.array(r.centroid) for r in
           label_centroids(emb, assemble=True).collect()}
    pdf = emb.toPandas()
    for lab, g in pdf.groupby("label"):
        # float64 accumulation on both sides (float32 mean drifts ~1e-5)
        exp = np.stack(g["embedding"].values).astype(np.float64).mean(axis=0)
        np.testing.assert_allclose(got[lab], exp, rtol=1e-9, atol=1e-12)


def test_ivf_kmeans_refinement_recall(emb):
    """Lloyd-refined coarse quantizer: recall at equal nprobe must stay
    >= the floor, and refinement must actually move the assignment (the
    iteration executes)."""
    from handyspark_spark.pipeline.similarity import ivf_topk
    q = emb.filter(F.col("vec_id") < 16)
    truth = {(r[0], r[1]) for r in _np_topk(emb, q, 5)}
    refined = {(r.query_id, r.neighbor_id) for r in
               ivf_topk(emb, q, k=5, n_centroids=8, nprobe=4,
                        kmeans_iters=2).collect()}
    recall = len(truth & refined) / len(truth)
    assert recall >= 0.5, f"refined IVF recall {recall:.2f}"


def test_mix_sources_weights_and_determinism(docs):
    from handyspark_spark.pipeline.sample import mix_sources
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    na, nb = a.count(), b.count()
    mixed = mix_sources([(a, 2.0), (b, 0.3)], "doc_id")
    assert "_epoch" in mixed.columns
    got_a = mixed.join(a.select("doc_id"), "doc_id", "left_semi").count()
    assert got_a == 2 * na                      # two full epochs
    got_b = mixed.count() - got_a
    assert 0.15 * nb < got_b < 0.45 * nb        # ~0.3 of source b
    # deterministic under different layouts
    again = mix_sources([(a.repartition(5), 2.0),
                         (b.repartition(3), 0.3)], "doc_id")
    assert again.count() == mixed.count()
    key = lambda r: (r.doc_id, r._epoch)
    assert sorted(map(key, again.select("doc_id", "_epoch").collect())) \
        == sorted(map(key, mixed.select("doc_id", "_epoch").collect()))
    with pytest.raises(ValueError):
        mix_sources([(a, 0.0)], "doc_id")


def test_tfidf_matches_python(spark):
    """TF-IDF (sklearn smoothing) vs a pure-python computation."""
    import math
    from collections import Counter
    from handyspark_spark.pipeline.ir import tfidf
    corpus = ["a b a c", "b b d", "a d d d"]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    got = {(r.doc_id, r.tok): (r.tf, r.df, r.tfidf)
           for r in tfidf(sdf).collect()}
    n = len(corpus)
    dfc = Counter()
    for t in corpus:
        dfc.update(set(t.split(" ")))
    for i, t in enumerate(corpus):
        for tok, tf in Counter(t.split(" ")).items():
            exp = tf * (math.log((n + 1) / (dfc[tok] + 1)) + 1)
            gtf, gdf, gtfidf = got[(i, tok)]
            assert gtf == tf and gdf == dfc[tok]
            npt.assert_allclose(gtfidf, exp, rtol=1e-12)
    assert len(got) == sum(len(set(t.split(" "))) for t in corpus)


def test_bm25_matches_python(spark):
    """BM25 scores and ranking vs a pure-python computation."""
    import math
    from collections import Counter
    from handyspark_spark.pipeline.ir import bm25_topk
    corpus = ["x y x z", "y y q", "x q q w", "w w w", "x x x x y"]
    query = ["x", "q"]
    k1, b = 1.2, 0.75
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    got = [(r.doc_id, r.score) for r in
           bm25_topk(sdf, query, k=3, k1=k1, b=b).collect()]

    n = len(corpus)
    dls = [len(t.split(" ")) for t in corpus]
    avgdl = sum(dls) / n
    dfc = {t: sum(t in doc.split(" ") for doc in corpus) for t in query}
    scores = {}
    for i, t in enumerate(corpus):
        tfs = Counter(t.split(" "))
        s = 0.0
        for term in query:
            tf = tfs.get(term, 0)
            if tf == 0 or dfc[term] == 0:
                continue
            idf = math.log(1 + (n - dfc[term] + 0.5) / (dfc[term] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        if s > 0:
            scores[i] = round(s, 6)
    exp = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [d for d, _ in got] == [d for d, _ in exp]
    npt.assert_allclose([s for _, s in got], [s for _, s in exp], rtol=1e-6)


def test_top_ngrams_matches_python(spark):
    from collections import Counter
    from handyspark_spark.pipeline.ir import top_ngrams
    corpus = ["a b a b c", "b c b c", "a", ""]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string")
    got = [(r.ngram, r.cnt) for r in top_ngrams(sdf, n=2, k=5).collect()]
    cnt = Counter()
    for t in corpus:
        toks = t.split(" ")
        cnt.update(" ".join(toks[i:i + 2]) for i in range(len(toks) - 1))
    exp = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got == exp


def test_star_edges_same_closure_as_clique_pairs(docs):
    """The per-bucket star skeleton must yield exactly the clusters of
    the full clique pair list (same cap => same edge universe), and with
    linearly many edges."""
    from handyspark_spark.pipeline.dedup import (connected_components,
                                                 minhash_lsh_pairs,
                                                 minhash_lsh_star_edges)
    kw = dict(num_hashes=16, bands=2, max_bucket_size=500)
    pairs = minhash_lsh_pairs(docs, **kw)
    star = minhash_lsh_star_edges(docs, **kw)
    n_pairs, n_star = pairs.count(), star.count()
    assert 0 < n_star < n_pairs
    a = {(r.node, r.component)
         for r in connected_components(pairs).collect()}
    b = {(r.node, r.component)
         for r in connected_components(star).collect()}
    assert a == b


def test_pack_sequences_invariants(docs):
    """Packing must tile the concatenated corpus exactly: per-doc slices
    sum to the doc's token count, every sequence except the last is
    exactly seq_len tokens, and slices within a sequence are disjoint."""
    from handyspark_spark.pipeline.text import pack_sequences, token_count
    L = 128
    out = pack_sequences(docs, seq_len=L).toPandas()
    n_tok = {r.doc_id: r.n for r in
             docs.select("doc_id", token_count("text").alias("n")).collect()}
    per_doc = out.groupby("doc_id").apply(
        lambda g: (g.tok_end - g.tok_start).sum(), include_groups=False)
    for d, tot in per_doc.items():
        assert tot == n_tok[d]
    per_seq = out.groupby("seq_id").apply(
        lambda g: (g.tok_end - g.tok_start).sum(), include_groups=False)
    last = per_seq.index.max()
    assert (per_seq.drop(index=last) == L).all()
    assert 0 < per_seq[last] <= L
    assert (out.tok_start < out.tok_end).all()


def test_quantize_embeddings_roundtrip(emb):
    """int8 quantization vs numpy: same codes, and dequantization error
    bounded by half a step per dimension."""
    from handyspark_spark.pipeline.similarity import quantize_embeddings
    sub = emb.filter(F.col("vec_id") < 50)
    got = quantize_embeddings(sub).orderBy("vec_id").collect()
    X = np.array([r.embedding for r in
                  sub.orderBy("vec_id").collect()], dtype=np.float64)
    scales = np.abs(np.array([r.embedding for r in
                              emb.filter(F.col("vec_id") < 50)
                              .orderBy("vec_id").collect()],
                             dtype=np.float64)).max(axis=0)
    # scales computed over the SAME input frame
    exp_scales = np.abs(X).max(axis=0)
    npt.assert_allclose(np.array(got[0].scales), exp_scales, rtol=1e-12)
    for r, x in zip(got, X):
        q = np.array(r.qvec, dtype=np.int32)
        expq = np.where(exp_scales > 0,
                        np.floor(x / exp_scales * 127 + 0.5), 0)
        npt.assert_array_equal(q, expq.astype(np.int32))
        deq = q / 127.0 * exp_scales
        assert np.max(np.abs(deq - x)) <= (exp_scales.max() / 127) * 0.5 + 1e-12


def test_source_report_matches_pandas(docs, pdf_tables):
    from handyspark_spark.pipeline.text import source_report
    got = {r.source: r for r in source_report(docs).collect()}
    pdf = pdf_tables["documents"]
    grp = pdf.groupby("source")
    for src, g in grp:
        r = got[src]
        assert r.n_docs == len(g)
        assert r.n_tokens == g["text"].map(
            lambda t: len(t.split(" "))).sum()
        fps = g["text"].map(
            lambda t: " ".join(sorted(set(t.lower().split(" ")))))
        assert r.n_unique == fps.nunique()
        assert abs(r.dup_ratio - (1 - fps.nunique() / len(g))) < 5e-5


# ---------------------------------------------------------------------------
# round 3: bloom filter, token-budget sampling, keep-best dedup,
# normalization/redaction
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_bounded_fp(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.bloom import (bloom_build,
                                                  bloom_probe_col)
    docs = tables["documents"].select(
        F.md5(F.col("text")).alias("k")).distinct()
    members = docs.filter(F.xxhash64("k") % 3 == 0)
    m_bits, k = 1 << 18, 5
    bloom = bloom_build(members, "k", m_bits=m_bits, k=k)
    probed = bloom_probe_col(docs, "k", bloom, m_bits, k)
    member_keys = {r["k"] for r in members.collect()}
    rows = probed.collect()
    fp = fn = 0
    for r in rows:
        truth = r["k"] in member_keys
        if truth and not r["_maybe"]:
            fn += 1
        if not truth and r["_maybe"]:
            fp += 1
    assert fn == 0, "bloom filter must never produce false negatives"
    n_non = sum(1 for r in rows if r["k"] not in member_keys)
    # m/n ~ 2^18 / ~170 members -> fp rate should be tiny; allow slack
    assert fp / max(n_non, 1) < 0.05


def test_decontaminate_bloom_equals_exact(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.dedup import (decontaminate,
                                                 decontaminate_bloom)
    df = tables["documents"]
    bench = df.filter(F.col("doc_id") % 13 == 0)
    exact = {r["doc_id"] for r in
             decontaminate(df, bench).select("doc_id").collect()}
    # small filter on purpose: false positives are likely, so this also
    # exercises the exact-verify leg
    bloomed = {r["doc_id"] for r in
               decontaminate_bloom(df, bench, m_bits=1 << 12, k=3)
               .select("doc_id").collect()}
    assert bloomed == exact


def test_token_budget_sample_matches_pandas(spark, tables, pdf_tables):
    import hashlib
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.sample import token_budget_sample
    from handyspark_spark.pipeline.text import token_count
    budget = 5000
    df = (tables["documents"]
          .withColumn("n_tok", token_count("text").cast("long")))
    got = sorted(r["doc_id"] for r in
                 token_budget_sample(df, "doc_id", "n_tok", budget,
                                     by="source").select("doc_id")
                 .collect())

    pdf = pdf_tables["documents"].copy()
    pdf["n_tok"] = pdf["text"].str.split(" ").map(len)
    pdf["u"] = [int(hashlib.md5(f"{i}#".encode()).hexdigest()[:8], 16)
                / 2**32 for i in pdf["doc_id"]]
    want = []
    for _, grp in pdf.groupby("source"):
        g = grp.sort_values(["u", "doc_id"])
        want.extend(g.loc[g["n_tok"].cumsum() <= budget, "doc_id"])
    assert got == sorted(want)


def test_token_budget_sample_layout_independent(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.sample import token_budget_sample
    from handyspark_spark.pipeline.text import token_count
    df = (tables["documents"]
          .withColumn("n_tok", token_count("text").cast("long")))
    a = {r["doc_id"] for r in
         token_budget_sample(df, "doc_id", "n_tok", 3000, by="source")
         .select("doc_id").collect()}
    b = {r["doc_id"] for r in
         token_budget_sample(df.repartition(17), "doc_id", "n_tok", 3000,
                             by="source").select("doc_id").collect()}
    assert a == b and a


def test_grouped_ranged_cumsum_matches_pandas(spark, tables, pdf_tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.rank import ranged_cumsum
    df = tables["orders"].select("o_custkey", "o_orderkey", "o_totalprice")
    out = ranged_cumsum(df, ["o_orderkey"], ["o_totalprice"],
                        ["o_custkey"])
    got = {(r["o_custkey"], r["o_orderkey"]):
           round(r["_cum_o_totalprice"], 4) for r in out.collect()}
    pdf = pdf_tables["orders"].sort_values(["o_custkey", "o_orderkey"])
    pdf["cum"] = pdf.groupby("o_custkey")["o_totalprice"].cumsum()
    want = {(r.o_custkey, r.o_orderkey): round(r.cum, 4)
            for r in pdf.itertuples()}
    assert got == want


def test_dedup_keep_best_valid(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.dedup import (dedup_keep_best,
                                                 minhash_lsh_groups)
    df = tables["documents"]
    kept = dedup_keep_best(df, num_hashes=16, bands=2,
                           max_bucket_size=None)
    rows = kept.collect()
    # one survivor per cluster
    clusters = [r["cluster_id"] for r in rows]
    assert len(clusters) == len(set(clusters))
    # survivor quality is the cluster max; survivors cover every doc's
    # cluster
    groups = minhash_lsh_groups(df, num_hashes=16, bands=2)
    lab = (df.join(groups, "doc_id", "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col("doc_id")))
           .withColumn("q", F.length("text")))
    best = {r["cluster_id"]: r["mx"] for r in
            lab.groupBy("cluster_id").agg(F.max("q").alias("mx"))
            .collect()}
    assert set(clusters) == set(best)
    for r in rows:
        assert r["quality"] == best[r["cluster_id"]]


def test_normalize_and_redact_match_python_re(spark, tables):
    import re
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.text import (PII_PATTERNS,
                                                normalize_text, pii_redact)
    df = tables["documents"].limit(200)
    rows = df.select("text", normalize_text("text").alias("norm"),
                     pii_redact("text").alias("red")).collect()
    for r in rows:
        want_norm = re.sub(" +", " ",
                           re.sub("[^a-z0-9 ]", " ",
                                  r["text"].lower())).strip()
        assert r["norm"] == want_norm
        red = re.sub(PII_PATTERNS["n_urls"], "<URL>", r["text"])
        red = re.sub(PII_PATTERNS["n_emails"], "<EMAIL>", red)
        red = re.sub(PII_PATTERNS["n_long_digits"], "<ID>", red)
        assert r["red"] == red


def test_pq_topk_recall_vs_brute_force(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.similarity import pq_topk
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 25 == 0)
    e = {}
    for r in _np_topk(df, qs, 5):
        e.setdefault(r[0], set()).add(r[1])
    # pure ADC: bounded by quantization error (synthetic unclustered
    # vectors are PQ's worst case — this pin is deliberately loose)
    adc = pq_topk(df, qs, k=5, m=16, nbits=4)
    a = {}
    for r in adc.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(a) == set(e)
    hits = sum(len(e[q] & a[q]) for q in e)
    total = sum(len(e[q]) for q in e)
    assert hits / total >= 0.25, f"ADC recall@5 too low: {hits}/{total}"
    # ADC shortlist + exact re-rank (the production config): near-exact
    rr = pq_topk(df, qs, k=5, m=16, nbits=4, rerank=50)
    a2 = {}
    for r in rr.collect():
        a2.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits2 = sum(len(e[q] & a2[q]) for q in e)
    assert hits2 / total >= 0.85, \
        f"reranked PQ recall@5 too low: {hits2}/{total}"


def test_pq_encode_deterministic(spark, tables):
    from handyspark_spark.pipeline.similarity import (pq_codebooks,
                                                      pq_encode)
    df = tables["embeddings"]
    books = pq_codebooks(df, m=8, nbits=4)
    a = {r["vec_id"]: r["pq_code"] for r in
         pq_encode(df, books).select("vec_id", "pq_code").collect()}
    b = {r["vec_id"]: r["pq_code"] for r in
         pq_encode(df.repartition(7), books)
         .select("vec_id", "pq_code").collect()}
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in a.values())


def test_brier_and_calibration_vs_pandas(spark, tables, pdf_tables):
    from pyspark.sql import functions as F
    from handyspark_spark.ml.evaluation import (brier_score,
                                                calibration_bins)
    df = tables["embeddings"].select(
        F.col("embedding")[0].cast("double").alias("score"),
        (F.col("label") >= 5).cast("double").alias("label"))
    pdf = pdf_tables["embeddings"].copy()
    pdf["score"] = pdf["embedding"].map(lambda v: float(v[0]))
    pdf["label"] = (pdf["label"] >= 5).astype(float)
    got = brier_score(df).collect()[0]
    want = ((pdf["score"] - pdf["label"]) ** 2).mean()
    assert abs(got["brier"] - want) < 1e-9
    bins = {r["bin"]: r for r in calibration_bins(df, n_bins=10).collect()}
    pdf["bin"] = (pdf["score"] * 10).apply(
        lambda x: min(int(x // 1), 9))
    for b, grp in pdf.groupby("bin"):
        assert bins[b]["n"] == len(grp)
        assert abs(bins[b]["pos_rate"] - grp["label"].mean()) < 1e-9


def test_bmp_wav_codec_roundtrips():
    import numpy as np
    from handyspark_spark.pipeline.multimodal import (
        decode_bmp, decode_wav, encode_bmp, encode_wav, resize_nearest)
    rng = np.random.default_rng(7)
    # odd width exercises BMP row padding
    px = rng.integers(0, 256, (11, 7, 3), dtype=np.uint8)
    assert (decode_bmp(encode_bmp(px)) == px).all()
    s = rng.integers(-32768, 32767, 4097).astype(np.int16)
    s2, rate = decode_wav(encode_wav(s, 22050))
    assert (s2 == s).all() and rate == 22050
    r = resize_nearest(px, 3, 5)
    assert r.shape == (5, 3, 3)
    # upscale keeps corner pixel
    up = resize_nearest(px, 14, 22)
    assert (up[0, 0] == px[0, 0]).all()


def test_image_stats_matches_numpy(spark, tables):
    import numpy as np
    from handyspark_spark.pipeline.multimodal import (attach_bmp_media,
                                                      image_stats)
    df = tables["documents"].limit(50)
    media = attach_bmp_media(df, "doc_id", "text", width=8, height=8)
    got = {r["media_id"]: r for r in image_stats(media).collect()}
    for row in df.select("doc_id", "text").collect():
        raw = row["text"].encode()
        n = 8 * 8 * 3
        tiled = (raw * (n // max(len(raw), 1) + 1))[:n]
        px = np.frombuffer(tiled, dtype=np.uint8).reshape(8, 8, 3)
        g = got[row["doc_id"]]
        assert g["width"] == 8 and g["height"] == 8
        means = px.reshape(-1, 3).mean(axis=0)
        assert abs(g["mean_r"] - means[0]) < 1e-9
        assert abs(g["brightness"] - means.mean()) < 1e-9


def test_attach_bmp_media_vectorized_byte_identical(spark):
    """The r12 vectorized BMP assembly in attach_bmp_media must emit
    blobs byte-identical to encode_bmp row-by-row — including a width
    that needs row padding (5*3=15 bytes -> pad 1) and an empty
    payload."""
    import numpy as np
    from handyspark_spark.pipeline.multimodal import (attach_bmp_media,
                                                      encode_bmp)
    rows = [(1, "hello world"), (2, ""), (3, "x"), (4, "abc" * 100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for w, h in [(8, 8), (5, 3)]:
        got = {r["media_id"]: bytes(r["data"]) for r in
               attach_bmp_media(df, "doc_id", "text", width=w,
                                height=h).collect()}
        n = w * h * 3
        for i, s in rows:
            raw = s.encode() or b"\x00"   # empty payload -> zero bytes
            tiled = (raw * (n // len(raw) + 1))[:n]
            px = np.frombuffer(tiled, dtype=np.uint8).reshape(h, w, 3)
            assert got[i] == encode_bmp(px), (w, h, i)


def test_image_stats_mixed_shapes_vectorized_equals_per_row(spark):
    """The r12 vectorized group decode in image_stats must agree with
    decode_bmp row-by-row when one batch mixes image shapes (different
    byte lengths and row padding — 5x3 rows need pad, 8x8 none), so
    both the grouped fast path and the per-shape grouping are hit."""
    import numpy as np
    from handyspark_spark.pipeline.multimodal import (encode_bmp,
                                                      image_stats)
    rng = np.random.default_rng(7)
    imgs = [rng.integers(0, 256, shape, dtype=np.uint8)
            for shape in [(8, 8, 3), (5, 3, 3), (8, 8, 3), (2, 7, 3),
                          (5, 3, 3), (1, 1, 3)]]
    rows = [(i, bytearray(encode_bmp(px))) for i, px in enumerate(imgs)]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    got = {r["media_id"]: r for r in image_stats(df).collect()}
    assert len(got) == len(imgs)
    for i, px in enumerate(imgs):
        g = got[i]
        assert (g["height"], g["width"]) == px.shape[:2]
        means = px.reshape(-1, 3).mean(axis=0)
        assert g["mean_r"] == means[0] and g["mean_g"] == means[1]
        assert g["mean_b"] == means[2]
        assert g["brightness"] == means.mean()


def test_media_decode_real_formats_no_fake_needed(spark):
    import numpy as np
    from handyspark_spark.pipeline.multimodal import (
        _decode, encode_bmp, encode_wav)
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    out = _decode(encode_bmp(px), None, fake=False)   # no raise: real
    assert out.shape == (16, 3)
    wav = encode_wav(np.arange(100, dtype=np.int16), 8000)
    out = _decode(wav, None, fake=False)
    assert out.shape == (100, 1)
    # compressed/unknown still gated
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        _decode(b"\x89PNG\r\n\x1a\n" + b"x" * 64, None, fake=False)
    # a text blob that merely starts with 'BM' is NOT misrouted
    fake_feat = _decode(b"BM just some text", None, fake=True)
    assert fake_feat.shape == (8, 8)


def test_weighted_sample_deterministic_and_biased(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.sample import weighted_sample
    from handyspark_spark.pipeline.text import token_count
    df = tables["documents"].withColumn("n_tok", token_count("text"))
    a = {r["doc_id"] for r in
         weighted_sample(df, "doc_id", "n_tok", 30).collect()}
    b = {r["doc_id"] for r in
         weighted_sample(df.repartition(13), "doc_id", "n_tok",
                         30).collect()}
    assert a == b and len(a) == 30
    # weight bias: sampled docs should skew heavier than the corpus mean
    mean_all = df.agg(F.avg("n_tok")).first()[0]
    mean_sample = (df.filter(F.col("doc_id").isin(list(a)))
                   .agg(F.avg("n_tok")).first()[0])
    assert mean_sample > mean_all
    # grouped form: exact n per group
    g = weighted_sample(df, "doc_id", "n_tok", 5, by="lang")
    counts = {r["lang"]: r["count"] for r in
              g.groupBy("lang").count().collect()}
    assert all(v == 5 for v in counts.values())


def test_top_ngram_fraction_matches_python(spark, tables):
    from collections import Counter
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.text import top_ngram_fraction
    df = tables["documents"].limit(100)
    got = {r["doc_id"]: r["f"] for r in
           df.select("doc_id",
                     top_ngram_fraction("text", 2).alias("f")).collect()}
    for row in df.select("doc_id", "text").collect():
        toks = row["text"].split(" ")
        grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        want = (max(Counter(grams).values()) / len(grams)) if grams else 0.0
        assert abs(got[row["doc_id"]] - want) < 1e-12


def test_components_driver_path_equals_distributed(spark, tables,
                                                  monkeypatch):
    from handyspark_spark.pipeline import dedup
    pairs = dedup.minhash_lsh_pairs(tables["documents"], num_hashes=16,
                                    bands=2).persist()
    fast = {(r["node"], r["component"]) for r in
            dedup.connected_components(pairs).collect()}
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 0)
    slow = {(r["node"], r["component"]) for r in
            dedup.connected_components(pairs).collect()}
    assert fast == slow and fast
    pairs.unpersist()


def test_lsh_incremental_matches_equal_full_recompute(spark, tables):
    """Banding new docs against stored state finds exactly the
    new-vs-old bucket collisions a full recompute would."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.dedup import (_banded,
                                                 lsh_bucket_state,
                                                 lsh_incremental_matches)
    docs = tables["documents"]
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    state = lsh_bucket_state(old, num_hashes=16, bands=2)
    got = {(r["doc_id"], r["match_id"]) for r in
           lsh_incremental_matches(state, new, num_hashes=16,
                                   bands=2).collect()}
    # full recompute over the whole corpus: new-vs-old pairs sharing a
    # bucket
    allb = _banded(docs, "text", "doc_id", 16, 2)
    a = allb.alias("a")
    b = allb.alias("b")
    want = {(r["n"], r["o"]) for r in
            (a.join(b, ["band", "band_hash"])
             .filter((F.col("a.doc_id") % 5 == 0) &
                     (F.col("b.doc_id") % 5 != 0))
             .select(F.col("a.doc_id").alias("n"),
                     F.col("b.doc_id").alias("o"))
             .distinct()).collect()}
    assert got == want and got
    # appending survivors keeps the state consistent for the NEXT batch
    survivors = new.join(
        spark.createDataFrame([(i,) for i in {g for g, _ in got}],
                              "doc_id long"), "doc_id", "left_anti")
    grown = state.unionByName(
        lsh_bucket_state(survivors, num_hashes=16, bands=2))
    n_expected = (old.count() + survivors.count()) * 2   # bands=2
    assert grown.count() == n_expected


def test_kfold_assign_disjoint_stable_balanced(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.sample import kfold_assign
    docs = tables["documents"]
    out = kfold_assign(docs, "doc_id", k=5)
    folds = {r["doc_id"]: r["fold"] for r in
             out.select("doc_id", "fold").collect()}
    assert set(folds.values()) <= set(range(5))
    # growth stability: a subset keeps its folds
    sub = kfold_assign(docs.filter("doc_id < 100"), "doc_id", k=5)
    for r in sub.select("doc_id", "fold").collect():
        assert folds[r["doc_id"]] == r["fold"]
    # rough balance
    counts = out.groupBy("fold").count().collect()
    n = docs.count()
    assert all(0.5 * n / 5 < r["count"] < 1.5 * n / 5 for r in counts)


def test_quantile_normalize_matches_pandas_ecdf(spark, tables, pdf_tables):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.agg import quantile_normalize_plan
    from handyspark_spark.pipeline.text import token_count
    df = tables["documents"].withColumn("n_tok", token_count("text"))
    got = {(r["source"], r["n_tok"]): r["qnorm"] for r in
           quantile_normalize_plan(df, "n_tok", "source").collect()}
    pdf = pdf_tables["documents"].copy()
    pdf["n_tok"] = pdf["text"].str.split(" ").map(len)
    for src, g in pdf.groupby("source"):
        vals = g["n_tok"].sort_values()
        n = len(vals)
        for v in vals.unique():
            want = (vals <= v).sum() / n
            assert abs(got[(src, v)] - want) < 1e-9


# ---------------------------------------------------------------------------
# round 4: ADVICE regression fixes
# ---------------------------------------------------------------------------

def test_components_seed_respected_on_small_graphs(spark, monkeypatch):
    """A seed label outside the edge universe must win regardless of
    which physical path runs (the union-find fast path used to ignore
    ``initial`` and relabel from the edges alone)."""
    from handyspark_spark.pipeline import dedup
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    seed = spark.createDataFrame([(1, 0)], "node long, component long")
    # default threshold (fast path would fire on 4 edges if allowed)
    got = {r.node: r.component for r in
           dedup.connected_components(pairs, initial=seed).collect()}
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 0)
    want = {r.node: r.component for r in
            dedup.connected_components(pairs, initial=seed).collect()}
    assert got == want
    assert got[1] == 0 and got[2] == 0     # seed label propagated
    assert got[3] == 3 and got[4] == 3     # unseeded component untouched


def test_bloom_probe_null_key_is_not_member(spark):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.bloom import (bloom_build,
                                                  bloom_filter_maybe,
                                                  bloom_probe_col)
    members = spark.createDataFrame([("a",), ("b",)], "k string")
    df = spark.createDataFrame([("a",), ("x",), (None,)], "k string")
    m_bits, k = 1 << 12, 3
    bloom = bloom_build(members, "k", m_bits=m_bits, k=k)
    verdicts = {r["k"]: r["_maybe"] for r in
                bloom_probe_col(df, "k", bloom, m_bits, k).collect()}
    assert verdicts["a"] is True
    assert verdicts[None] is False          # never NULL, never dropped
    clean = bloom_filter_maybe(df, "k", bloom, m_bits, k)
    kept = {r["k"] for r in clean.collect()}
    assert "a" in kept and None not in kept
    # the null row survives in the complement (provably-absent) set
    probed = bloom_probe_col(df, "k", bloom, m_bits, k)
    absent = {r["k"] for r in probed.filter(~F.col("_maybe")).collect()}
    assert None in absent


def test_pq_topk_preserves_string_ids(spark, tables):
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.similarity import pq_topk
    df = (tables["embeddings"].limit(200)
          .select(F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
                  .alias("vec_id"), "embedding"))
    qs = df.limit(4)
    out = pq_topk(df, qs, k=3, m=8, nbits=4)
    assert dict(out.dtypes)["query_id"] == "string"
    assert dict(out.dtypes)["neighbor_id"] == "string"
    rows = out.collect()
    assert rows and all(r["neighbor_id"].startswith("doc-") for r in rows)
    # rerank path goes through the exact-cosine join — same contract
    rr = pq_topk(df, qs, k=3, m=8, nbits=4, rerank=10)
    assert dict(rr.dtypes)["neighbor_id"] == "string"
    assert rr.count() > 0


# ---------------------------------------------------------------------------
# round 4: persistable ANN index (train once, probe many)
# ---------------------------------------------------------------------------

def test_ivf_index_save_load_roundtrip(spark, tables, tmp_path):
    """fit -> save -> load -> search must return EXACTLY what searching
    with the in-memory fitted index returns (no refit on load)."""
    import numpy as np
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.ann_index import IVFIndex
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    idx = IVFIndex.fit(df, n_centroids=8, kmeans_iters=1)
    idx.save(str(tmp_path / "ivf"), spark)
    idx2 = IVFIndex.load(spark, str(tmp_path / "ivf"))
    np.testing.assert_allclose(idx2.centroids, idx.centroids)
    assert (idx2.vec_col, idx2.id_col) == (idx.vec_col, idx.id_col)
    a = {(r.query_id, r.neighbor_id, r.rank)
         for r in idx.search(df, qs, k=5, nprobe=3).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank)
         for r in idx2.search(df, qs, k=5, nprobe=3).collect()}
    assert a == b and len(a) > 0
    # assign() gives every corpus row a cell in [0, n_centroids)
    cells = idx2.assign(df).select("_cell").distinct().collect()
    assert all(0 <= r["_cell"] < 8 for r in cells)


def test_pq_index_save_load_roundtrip(spark, tables, tmp_path):
    import numpy as np
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.ann_index import PQIndex
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    idx = PQIndex.fit(df, m=8, nbits=4, sample_n=256)
    idx.save(str(tmp_path / "pq"), spark)
    idx2 = PQIndex.load(spark, str(tmp_path / "pq"))
    np.testing.assert_allclose(idx2.books, idx.books)
    a = {(r.query_id, r.neighbor_id)
         for r in idx.search(df, qs, k=5).collect()}
    b = {(r.query_id, r.neighbor_id)
         for r in idx2.search(df, qs, k=5).collect()}
    assert a == b and len(a) > 0
    # frozen codebooks: encoding a NEW batch stays comparable
    enc = idx2.encode(df.limit(50))
    assert enc.select(F.size("pq_code")).first()[0] == 8
    # kind mismatch is a loud error, not silent garbage
    import pytest
    from handyspark_spark.pipeline.ann_index import IVFIndex
    with pytest.raises(ValueError, match="is a 'pq' artifact"):
        IVFIndex.load(spark, str(tmp_path / "pq"))


def test_ivfpq_exact_switch_equals_brute_force(spark, tables):
    """nprobe = n_centroids + rerank >= |corpus| is the exact switch:
    every cell probed, every ADC candidate exact-rescored — output must
    EQUAL brute force (same convention as ivf_topk/pq_topk)."""
    from handyspark_spark.pipeline.similarity import ivfpq_topk
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    n = df.count()
    exact = {(r[0], r[1], r[3]) for r in _np_topk(df, qs, 5)}
    got = {(r.query_id, r.neighbor_id, r.rank)
           for r in ivfpq_topk(df, qs, k=5, n_centroids=8, nprobe=8,
                               m=16, nbits=4, rerank=n).collect()}
    assert got == exact and len(got) > 0


def test_ivfpq_recall_vs_brute_force(spark, tables):
    """Approximate IVF-PQ (partial probe + residual ADC + rerank):
    residual quantization should make the reranked recall strong even
    on synthetic unclustered vectors."""
    from handyspark_spark.pipeline.similarity import ivfpq_topk
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 25 == 0)
    e = {}
    for r in _np_topk(df, qs, 5):
        e.setdefault(r[0], set()).add(r[1])
    total = sum(len(v) for v in e.values())
    # half-probe + rerank: cell pruning costs recall only via probe
    # misses; the exact re-rank repairs ADC error inside probed cells
    rr = ivfpq_topk(df, qs, k=5, n_centroids=8, nprobe=4, m=16,
                    nbits=4, rerank=50)
    a = {}
    for r in rr.collect():
        a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(e[q] & a.get(q, set())) for q in e)
    assert hits / total >= 0.4, f"IVF-PQ recall@5 too low: {hits}/{total}"


def test_ivfpq_index_save_load_roundtrip(spark, tables, tmp_path):
    import numpy as np
    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    idx = IVFPQIndex.fit(df, n_centroids=8, m=8, nbits=4, sample_n=256)
    idx.save(str(tmp_path / "ivfpq"), spark)
    # meta, cells and books are read with their fixed schemas: one job
    # per file (an inferred schema costs a second job each)
    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-load", "IVFPQIndex.load")
    try:
        idx2 = IVFPQIndex.load(spark, str(tmp_path / "ivfpq"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("ivfpq-load")) == 3
    np.testing.assert_allclose(idx2.centroids, idx.centroids)
    np.testing.assert_allclose(idx2.books, idx.books)
    a = {(r.query_id, r.neighbor_id)
         for r in idx.search(df, qs, k=5, nprobe=4).collect()}
    b = {(r.query_id, r.neighbor_id)
         for r in idx2.search(df, qs, k=5, nprobe=4).collect()}
    assert a == b and len(a) > 0
    from handyspark_spark.pipeline.ann_index import PQIndex
    with pytest.raises(ValueError, match="is a 'ivfpq' artifact"):
        PQIndex.load(spark, str(tmp_path / "ivfpq"))


def _sql_plans(spark, fn):
    """Physical-plan descriptions of the SQL executions ``fn`` starts,
    read from the SQL status store (execution ids are dense)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    ex = store.executionsList()
    hw = ex.last().executionId() if ex.nonEmpty() else -1
    fn()
    bus.waitUntilEmpty()
    plans, i = [], hw + 1
    while store.execution(i).isDefined():
        plans.append(store.execution(i).get().physicalPlanDescription())
        i += 1
    return plans


def test_ann_artifacts_keep_schemas_and_roundtrip_bit_identical(
        spark, tables, tmp_path):
    """The artifact parquet schemas the DuckDB ANN oracles read stay
    fixed, load returns the saved matrices bit for bit, and the save
    runs no Python-RDD scan: its frames enter Spark as Arrow tables."""
    import os

    import numpy as np
    import pyarrow.parquet as pq
    from handyspark_spark.pipeline.ann_index import IVFPQIndex, PQIndex
    df = tables["embeddings"]
    idx = IVFPQIndex.fit(df, n_centroids=8, m=8, nbits=4, sample_n=256)
    path = str(tmp_path / "ivfpq")
    plans = _sql_plans(spark, lambda: idx.save(path, spark))
    assert plans and not any("ExistingRDD" in p for p in plans)
    assert all("LocalTableScan" in p for p in plans)
    pq_idx = PQIndex(idx.books)
    pq_idx.save(str(tmp_path / "pq"), spark)

    def names_types(p):
        sch = pq.read_table(p).schema
        return [(f.name, str(f.type)) for f in sch]
    books = [("subspace", "int32"), ("code", "int32"), ("pos", "int32"),
             ("val", "double")]
    assert names_types(f"{path}/meta.parquet") == [("kind", "string"),
                                                   ("params", "string")]
    assert names_types(f"{path}/cells.parquet") == [
        ("cell", "int32"), ("pos", "int32"), ("val", "double")]
    assert names_types(f"{path}/books.parquet") == books
    assert names_types(str(tmp_path / "pq" / "cells.parquet")) == books
    # coalesce(1): one data file per matrix
    assert len([f for f in os.listdir(f"{path}/cells.parquet")
                if f.endswith(".parquet")]) == 1

    back = IVFPQIndex.load(spark, path)
    assert back.centroids.tobytes() == idx.centroids.tobytes()
    assert back.books.tobytes() == idx.books.tobytes()
    assert (PQIndex.load(spark, str(tmp_path / "pq")).books.tobytes()
            == idx.books.tobytes())


def test_ivfpq_encoded_corpus_search_matches_direct(spark, tables,
                                                    tmp_path):
    """The production shape: encode ONCE with the frozen index, write
    partitioned by cell, search against the read-back codes — results
    must EQUAL the direct (re-encoding) search, and the scan must read
    only the code columns from the encoded layout."""
    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    idx = IVFPQIndex.fit(df, n_centroids=8, m=8, nbits=4, sample_n=256)
    path = str(tmp_path / "enc_by_cell")
    idx.encode(df).write.partitionBy("cell").parquet(path)
    enc = spark.read.parquet(path)
    direct = {(r.query_id, r.neighbor_id, r.rank)
              for r in idx.search(df, qs, k=5, nprobe=4,
                                  rerank=30).collect()}
    via_codes = idx.search(df, qs, k=5, nprobe=4, rerank=30, encoded=enc)
    got = {(r.query_id, r.neighbor_id, r.rank)
           for r in via_codes.collect()}
    assert got == direct and len(got) > 0
    # column pruning on the encoded layout: the ADC stage needs only
    # (vec_id, cell, pq_code) — raw embeddings must not be read there
    plan = via_codes._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines()
            if "FileScan" in ln and "pq_code" in ln]
    assert scan and all("embedding" not in ln for ln in scan)


def test_pq_encoded_corpus_search_matches_direct(spark, tables, tmp_path):
    """Flat-PQ production shape (round-7 port of the IVF-PQ contract):
    encode ONCE with the frozen codebooks, persist, search against the
    read-back codes — results must EQUAL the direct (re-encoding)
    search, and the ADC scan must read only the code columns."""
    from handyspark_spark.pipeline.ann_index import PQIndex
    df = tables["embeddings"]
    qs = df.filter(F.col("vec_id") % 40 == 0)
    idx = PQIndex.fit(df, m=8, nbits=4, sample_n=256)
    path = str(tmp_path / "pq_codes")
    idx.encode(df).select("vec_id", "pq_code").write.parquet(path)
    enc = spark.read.parquet(path)
    direct = {(r.query_id, r.neighbor_id, r.rank)
              for r in idx.search(df, qs, k=5, rerank=30).collect()}
    via_codes = idx.search(df, qs, k=5, rerank=30, encoded=enc)
    got = {(r.query_id, r.neighbor_id, r.rank)
           for r in via_codes.collect()}
    assert got == direct and len(got) > 0
    # column pruning on the encoded layout: the ADC stage needs only
    # (vec_id, pq_code) — raw embeddings must not be read there
    plan = via_codes._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines()
            if "FileScan" in ln and "pq_code" in ln]
    assert scan and all("embedding" not in ln for ln in scan)
    # encoded= without the frozen books is a loud error
    from handyspark_spark.pipeline.similarity import pq_topk
    with pytest.raises(ValueError, match="requires the frozen books"):
        pq_topk(df, qs, k=5, encoded=enc)


def test_hot_bucket_recovery_reaches_uncapped_closure(spark):
    """A bucket larger than max_bucket_size is dropped by the capped
    path; the uncapped star edges keep it, and the components of each
    equal the closure of its own star edges."""
    from handyspark_spark.pipeline.dedup import (connected_components,
                                                 minhash_lsh_components,
                                                 minhash_lsh_star_edges)
    # 30 near-identical boilerplate docs (one hot bucket) + distinct docs
    rows = [(i, "terms of service apply to all users section " + "x " * (i % 3))
            for i in range(30)]
    rows += [(100 + i, f"unique document number {i} about topic {i * 7}")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=16, bands=4)
    cap = 10

    # the fixture really is hot: capped edges lose the boilerplate links
    capped = minhash_lsh_star_edges(docs, max_bucket_size=cap, **kw)
    uncapped = minhash_lsh_star_edges(docs, **kw)
    assert capped.count() < uncapped.count()

    def comps(pairs):
        return {r.node: r.component for r in
                connected_components(pairs).collect()}

    # end-to-end: seeded components == the closure of the same edges
    a = {r.node: r.component for r in
         minhash_lsh_components(docs, **kw).collect()}
    assert a == comps(uncapped)
    assert {r.node: r.component for r in
            minhash_lsh_components(docs, max_bucket_size=cap,
                                   **kw).collect()} == comps(capped)
    # and the boilerplate cluster is actually one component
    assert len({a[i] for i in range(30) if i in a}) <= 3


@pytest.fixture(scope="module")
def hot_docs(spark, docs):
    """The fixture corpus plus one hot bucket (40 identical docs) and a
    5-doc cluster whose first id repeats on two identical rows: 6 rows
    but 5 distinct ids, so a cap of 5 keeps it only if it counts ids."""
    hot = "terms of service apply to all users of this site"
    five = "shared boilerplate footer copyright all rights reserved"
    extra = ([(10_000 + i, hot) for i in range(40)]
             + [(20_000 + i, five) for i in range(5)] + [(20_000, five)])
    return docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(extra, "doc_id long, text string"))


@pytest.mark.parametrize("cap", [None, 5, 500])
def test_lsh_cluster_family_matches_bucket_reference(hot_docs, cap,
                                                    monkeypatch):
    """Star edges, groups and components all derive from one bucket-min
    plan; each equals a pure-Python reference built from the
    ``lsh_bucket_state`` rows, the cap counted in distinct ids. The
    components are checked on both physical paths (driver union-find
    and the seeded distributed loop)."""
    from handyspark_spark.pipeline import dedup
    from handyspark_spark.pipeline.dedup import (
        connected_components, lsh_bucket_state, minhash_lsh_components,
        minhash_lsh_groups, minhash_lsh_star_edges)
    kw = dict(num_hashes=16, bands=2, max_bucket_size=cap)
    buckets: dict = {}
    for r in lsh_bucket_state(hot_docs, num_hashes=16, bands=2).collect():
        buckets.setdefault((r.band, r.band_hash), set()).add(r.doc_id)
    kept = [b for b in buckets.values() if cap is None or len(b) <= cap]
    assert any(len(b) == 40 for b in kept) == (cap != 5)
    assert any(len(b) == 5 for b in kept)
    want_star = {(min(b), x) for b in kept for x in b if x != min(b)}
    want_groups = {i: i for b in buckets.values() for i in b}
    for b in kept:
        for i in b:
            want_groups[i] = min(want_groups[i], min(b))
    # closure by min-label propagation to a fixpoint over the star edges
    want_comp = {x: x for e in want_star for x in e}
    changed = True
    while changed:
        changed = False
        for a, b in want_star:
            m = min(want_comp[a], want_comp[b])
            if (want_comp[a], want_comp[b]) != (m, m):
                want_comp[a] = want_comp[b] = m
                changed = True

    star = minhash_lsh_star_edges(hot_docs, **kw)
    assert {(r.id_a, r.id_b) for r in star.collect()} == want_star
    groups = minhash_lsh_groups(hot_docs, **kw)
    got_groups = groups.collect()
    assert len(got_groups) == len(want_groups)
    assert {r.doc_id: r.cluster_id for r in got_groups} == want_groups
    assert {r.node: r.component for r in
            minhash_lsh_components(hot_docs, **kw).collect()} == want_comp
    seed = groups.select(F.col("doc_id").alias("node"),
                         F.col("cluster_id").alias("component"))
    monkeypatch.setattr(dedup, "_SMALL_GRAPH_EDGES", 0)
    assert {r.node: r.component for r in
            connected_components(star, initial=seed,
                                 seeds_from_edges=True).collect()} == \
        want_comp


# ---------------------------------------------------------------------------
# Round 4: passage dedup / contamination / SemDeDup / Gopher / shuffle
# ---------------------------------------------------------------------------

def test_passage_dedup_keeps_first_occurrence(spark):
    from handyspark_spark.pipeline.dedup import passage_dedup
    # doc 1: passages [A B], doc 2: [B C], doc 3: [A]  (passage = 2 toks)
    df = spark.createDataFrame(
        [(1, "a a b b"), (2, "b b c c"), (3, "a a")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           passage_dedup(df, passage_tokens=2).collect()}
    assert out[1]["n_kept"] == 2 and out[1]["clean_text"] == "a a b b"
    assert out[2]["n_kept"] == 1 and out[2]["clean_text"] == "c c"
    assert out[3]["n_kept"] == 0 and out[3]["clean_text"] == ""


def test_passage_dedup_partition_invariant(spark):
    from handyspark_spark.pipeline.dedup import passage_dedup
    rows = [(i, " ".join(["tok%d" % (j % 7) for j in range(i % 11 + 3)]))
            for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = sorted(passage_dedup(df, passage_tokens=3).collect())
    b = sorted(passage_dedup(df.repartition(13), passage_tokens=3)
               .collect())
    assert a == b


def test_ngram_contamination_bounds(spark):
    from handyspark_spark.pipeline.dedup import ngram_contamination
    df = spark.createDataFrame(
        [(1, "q w e r t y u"), (2, "z x c v b n m")],
        ["doc_id", "text"])
    bench = spark.createDataFrame([(9, "q w e r t y u")],
                                  ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           ngram_contamination(df, bench, n=3).collect()}
    assert out[1]["contamination"] == 1.0   # fully contained
    assert out[2]["contamination"] == 0.0   # disjoint
    assert out[1]["n_grams"] == 5           # 7 tokens -> 5 trigrams


def test_rolling_hashes_token_combine_match_structure(spark):
    """The r13 token-hash-combining xxhash64 grams must induce the SAME
    match structure as hashing the gram STRING (the pre-r13 form):
    equal token sequences collide, different ones do not — including
    sub-k tail grams (null-skip side), empty tokens from doubled
    spaces, and docs shorter than k."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.text import (gram_at, let_bound,
                                                rolling_hashes, tokens)

    def string_form(col, k):   # pre-r13 formulation, inline
        def body(tk):
            n = F.size(tk)
            idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
            return F.transform(
                idx, lambda i: F.xxhash64(gram_at(tk, i + 1, k)))
        return let_bound(tokens(col), body)

    rows = [(1, "a b c d e f"), (2, "c d e f g"), (3, "a b"),
            (4, "a b c"), (5, "a  b c"), (6, ""), (7, "a b c d e f")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for k in (3, 5):
        def slots(form):
            out = df.select("doc_id", F.posexplode(form("text", k))
                            .alias("pos", "h")).collect()
            by_hash = {}
            for r in out:
                by_hash.setdefault(r.h, []).append((r.doc_id, r.pos))
            # the partition of (doc, pos) slots into equal-hash groups
            return sorted(sorted(v) for v in by_hash.values())
        assert slots(string_form) == slots(
            lambda c, kk: rolling_hashes(c, kk))


def test_semdedup_drops_higher_id_and_respects_quality(spark):
    from handyspark_spark.pipeline.similarity import (semdedup_drops,
                                                      semdedup_pairs)
    v = [1.0] + [0.0] * 7
    w = [0.0, 1.0] + [0.0] * 6
    df = spark.createDataFrame(
        [(1, v, 0.9), (2, v, 0.1), (3, w, 0.5)],
        ["vec_id", "embedding", "quality"])
    pairs = semdedup_pairs(df, threshold=0.99, sign_bits=2).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    drops = semdedup_drops(df, threshold=0.99, sign_bits=2).collect()
    assert [r["dropped"] for r in drops] == [2]       # higher id
    dq = semdedup_drops(df, threshold=0.99, sign_bits=2,
                        quality_col="quality").collect()
    assert [r["dropped"] for r in dq] == [2]          # lower quality
    df2 = spark.createDataFrame(
        [(1, v, 0.1), (2, v, 0.9), (3, w, 0.5)],
        ["vec_id", "embedding", "quality"])
    dq2 = semdedup_drops(df2, threshold=0.99, sign_bits=2,
                         quality_col="quality").collect()
    assert [r["dropped"] for r in dq2] == [1]         # now 1 is worse


def test_gopher_rules_flags(spark):
    from handyspark_spark.pipeline.text import gopher_rules
    good = " ".join(["the", "and", "table"] * 10)        # 30 words
    short = "the and"                                    # too few words
    nostop = " ".join(["zz"] * 30)                       # no stopwords
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, nostop)], ["doc_id", "text"])
    r = gopher_rules("text")
    out = {x["doc_id"]: x for x in
           df.select("doc_id", r["pass"].alias("ok"),
                     r["words_ok"].alias("w"),
                     r["stop_ok"].alias("s")).collect()}
    assert out[1]["ok"] is True
    assert out[2]["ok"] is False and out[2]["w"] is False
    assert out[3]["ok"] is False and out[3]["s"] is False


def test_deterministic_shuffle_stable_and_salted(spark, docs):
    from handyspark_spark.pipeline.sample import deterministic_shuffle
    a = [r["doc_id"] for r in
         deterministic_shuffle(docs, "doc_id").select("doc_id")
         .limit(50).collect()]
    b = [r["doc_id"] for r in
         deterministic_shuffle(docs.repartition(17), "doc_id")
         .select("doc_id").limit(50).collect()]
    assert a == b                       # layout-independent total order
    c = [r["doc_id"] for r in
         deterministic_shuffle(docs, "doc_id", salt="epoch1")
         .select("doc_id").limit(50).collect()]
    assert a != c                       # re-salt => new permutation
    assert sorted(a) != a               # actually shuffled


def test_dsir_weights_prefers_target_like_docs(spark):
    from handyspark_spark.pipeline.sample import dsir_weights
    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta " * 5) for i in range(5)],
        ["doc_id", "text"])
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 5),      # looks like target
         (2, "omega psi chi phi " * 5)],          # does not
        ["doc_id", "text"])
    out = {r["doc_id"]: r["log_weight"]
           for r in dsir_weights(raw, target).collect()}
    assert out[1] > out[2]


def test_dsir_weights_partition_invariant(spark, docs):
    from handyspark_spark.pipeline.sample import dsir_weights
    target = docs.filter(F.col("doc_id") % 7 == 0)
    a = sorted(dsir_weights(docs, target).collect())
    b = sorted(dsir_weights(docs.repartition(13),
                            target.repartition(5)).collect())
    assert a == b


def test_dsir_weights_precomputed_tables_identical(spark, docs):
    """The detect-once path — dsir_weights fed precomputed
    dsir_doc_buckets tables (corpus + target-as-filter, the cached
    production shape) — must return EXACTLY the plain path's values
    (the micro-grid integer summation makes equality exact, not
    approximate)."""
    from handyspark_spark.pipeline.sample import (dsir_doc_buckets,
                                                  dsir_weights)
    target = docs.filter(F.col("doc_id") % 7 == 0)
    plain = sorted(dsir_weights(docs, target).collect())
    docb = dsir_doc_buckets(docs)
    pre = sorted(dsir_weights(
        docs, None, doc_buckets=docb,
        target_doc_buckets=docb.filter(F.col("doc_id") % 7 == 0))
        .collect())
    assert plain == pre


def test_temperature_mix_boosts_small_sources(spark):
    from handyspark_spark.pipeline.sample import temperature_mix_rates
    df = spark.createDataFrame(
        [("big", 1.0)] * 90 + [("small", 1.0)] * 10, ["source", "w"])
    out = {r["source"]: r for r in
           temperature_mix_rates(df, "source", "w", alpha=0.5).collect()}
    assert out["small"]["boost"] > 1.0 > out["big"]["boost"]
    assert abs(out["small"]["p_mix"] + out["big"]["p_mix"] - 1.0) < 1e-5


def test_drift_report_detects_shift(spark):
    from handyspark_spark.pipeline.drift import drift_report
    rows = ([("d1", "a")] * 50 + [("d1", "b")] * 50     # 50/50
            + [("d2", "a")] * 50 + [("d2", "b")] * 50   # same -> 0 drift
            + [("d3", "a")] * 95 + [("d3", "b")] * 5)   # big shift
    df = spark.createDataFrame(rows, ["day", "etype"])
    out = {(r["slice_from"], r["slice_to"]): r for r in
           drift_report(df, "day", "etype").collect()}
    assert set(out) == {("d1", "d2"), ("d2", "d3")}
    assert out[("d1", "d2")]["js_divergence"] == 0.0
    assert out[("d1", "d2")]["tv_distance"] == 0.0
    assert out[("d2", "d3")]["js_divergence"] > 0.1
    assert out[("d2", "d3")]["tv_distance"] == 0.45
    assert out[("d2", "d3")]["n_from"] == 100


def test_drift_report_one_sided_bucket(spark):
    from handyspark_spark.pipeline.drift import drift_report
    rows = [("d1", "a")] * 10 + [("d2", "b")] * 10  # disjoint supports
    df = spark.createDataFrame(rows, ["day", "etype"])
    r = drift_report(df, "day", "etype").collect()[0]
    import math
    assert abs(r["js_divergence"] - math.log(2)) < 1e-5  # max JS
    assert r["tv_distance"] == 1.0


def test_pretrain_funnel_stages_monotonic(spark, docs):
    from handyspark_spark.pipeline import pretrain_funnel
    out = {r["stage"]: r["n_docs"]
           for r in pretrain_funnel(docs, bands=2).collect()}
    assert list(sorted(out)) == ["1_raw", "2_quality", "3_exact",
                                 "4_neardup", "5_decontaminated"]
    counts = [out[s] for s in sorted(out)]
    assert counts[0] == docs.count()
    assert all(a >= b for a, b in zip(counts, counts[1:]))
    assert counts[-1] > 0


def test_pretrain_funnel_empty_input_all_zero(spark, docs):
    """F.sum over zero rows is NULL — the fused one-pass funnel must
    coalesce every stage back to 0 on an empty corpus (the old
    per-stage count() contract the monotonicity property assumes)."""
    from handyspark_spark.pipeline import pretrain_funnel
    empty = docs.filter(F.lit(False))
    out = {r["stage"]: r["n_docs"] for r in pretrain_funnel(
        empty, bands=2, bench=docs.limit(0)).collect()}
    assert out == {"1_raw": 0, "2_quality": 0, "3_exact": 0,
                   "4_neardup": 0, "5_decontaminated": 0}


def test_containment_catches_subset_docs(spark):
    from handyspark_spark.pipeline.dedup import containment_pairs
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e f g h i j k l m n o p"),
         (3, "x y z")], ["doc_id", "text"])
    out = containment_pairs(df, threshold=0.9).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["containment_a_in_b"] == 1.0       # doc1 fully inside doc2
    assert r["containment_b_in_a"] < 0.25       # but not vice versa


def test_snap_sum6_exact_integer_division_at_scale(spark):
    """_snap_sum6's micro-rounding must be TRUE integer division: at a
    nano total of ~5.13e18 a double `(k+500)/1000` then bigint cast
    rounds UP across the integer boundary (off by one micro); the
    DECIMAL path matches DuckDB's `(k+500)//1000` exactly."""
    from handyspark_spark.pipeline.drift import _snap_sum6
    # 5130 terms of 1e6 + one of 933103.096309499 snap exactly to a
    # nano-grid sum of k=5130933103096309499, chosen so that double
    # division misrounds: int((k+500)/1000.0) == ...310, true == ...309
    rows = [(1_000_000.0,)] * 5130 + [(933103.096309499,)]
    df = spark.createDataFrame(rows, "x double")
    got = df.agg(_snap_sum6(F.col("x")).alias("v")).collect()[0]["v"]
    assert got == 5130933103.096309, got


def test_star_edges_recovery_query_matches_uncapped(tables, spark):
    """The registry query runs uncapped: at this SF a cap of 8 drops hot
    duplicate-clique buckets, so the capped star edges are a strict
    subset of the uncapped set the SQL oracle computes."""
    from handyspark_spark.pipeline.dedup import minhash_lsh_star_edges
    docs = tables["documents"]
    cap = {(r.id_a, r.id_b) for r in
           minhash_lsh_star_edges(docs, num_hashes=16, bands=2,
                                  max_bucket_size=8).collect()}
    unc = {(r.id_a, r.id_b) for r in
           minhash_lsh_star_edges(docs, num_hashes=16,
                                  bands=2).collect()}
    assert cap < unc and len(cap) > 0


def test_ann_query_row_cap_raises(spark, emb):
    """pq_topk/ivf_topk/brute_force_topk hold the query frame
    driver/broadcast-side — an oversized query frame must fail LOUDLY,
    not melt the driver."""
    from handyspark_spark.pipeline.similarity import (brute_force_topk,
                                                      ivf_topk, pq_topk)
    big_q = emb                                   # whole corpus as queries
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_topk(emb, big_q, k=3, max_query_rows=10)
    with pytest.raises(ValueError, match="max_query_rows"):
        pq_topk(emb, big_q, k=3, max_query_rows=10)
    # brute force has no cap parameter: the family default, 100,000 rows
    over = spark.range(100_001).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"))
    with pytest.raises(ValueError, match="max_query_rows=100000"):
        brute_force_topk(emb, over, k=3)


def test_ann_ivf_index_query_matches_inline(spark):
    """The index-backed driver query (fit->save->load->search) returns
    EXACTLY the inline-fit ann_ivf result — the deterministic quantizer
    makes the persisted-artifact path value-equivalent, so the bench
    entry exercises the train-once contract with identical recall."""
    from handyspark_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    inline = {tuple(r) for r in Q.QUERIES["ann_ivf"](spark, sf).collect()}
    via_idx = {tuple(r) for r in
               Q.QUERIES["ann_ivf_index"](spark, sf).collect()}
    assert inline == via_idx and len(inline) > 0


def test_duplicate_ngram_spans_semantics(spark):
    """Hand-built corpus: a 6-token passage shared by docs 1 and 2 at
    different offsets; doc 3 is clean. Span coordinates are 1-based,
    end-exclusive, and overlapping duplicate grams merge."""
    from handyspark_spark.pipeline.dedup import duplicate_ngram_spans
    shared = "p q r s t u"
    df = spark.createDataFrame(
        [(1, f"a b {shared} c d"),        # shared at tokens 3..8
         (2, f"x {shared} y z w"),        # shared at tokens 2..7
         (3, "m n o just unique words")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           duplicate_ngram_spans(df, n=4, min_count=2).collect()}
    assert set(out) == {1, 2}
    # doc 1: dup 4-grams start at 3,4,5 -> one island, span [3, 9)
    assert (out[1]["span_start"], out[1]["span_end"],
            out[1]["span_tokens"]) == (3, 9, 6)
    # doc 2: starts at 2,3,4 -> span [2, 8)
    assert (out[2]["span_start"], out[2]["span_end"],
            out[2]["span_tokens"]) == (2, 8, 6)


def test_duplicate_ngram_spans_same_doc_repeat_and_gap(spark):
    """Faithful ExactSubstr: a repeat WITHIN one document counts, and
    two duplicate regions more than n apart stay separate islands."""
    from handyspark_spark.pipeline.dedup import duplicate_ngram_spans
    text = "a b c d " + "f1 f2 f3 f4 f5 f6 f7 f8 " + "a b c d"
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(duplicate_ngram_spans(df, n=4, min_count=2).collect(),
                  key=lambda r: r["span_start"])
    assert [(r["span_start"], r["span_end"]) for r in rows] \
        == [(1, 5), (13, 17)]


def test_strip_duplicate_spans_roundtrip(spark):
    from handyspark_spark.pipeline.dedup import strip_duplicate_spans
    shared = "p q r s t u"
    df = spark.createDataFrame(
        [(1, f"a b {shared} c d"),
         (2, f"x {shared} y z w"),
         (3, "m n o just unique words"),
         (4, shared)],                    # fully duplicated doc
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           strip_duplicate_spans(df, n=4, min_count=2).collect()}
    assert out[1]["clean_text"] == "a b c d"
    assert out[1]["n_removed"] == 6
    assert out[2]["clean_text"] == "x y z w"
    assert out[3]["clean_text"] == "m n o just unique words"
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == 6
    assert all(r["n_tokens"] - r["n_removed"]
               == (len(r["clean_text"].split(" "))
                   if r["clean_text"] else 0)
               for r in out.values())


def test_dup_spans_no_python_in_plan(docs):
    from handyspark_spark.pipeline.dedup import (duplicate_ngram_spans,
                                                 strip_duplicate_spans)
    for fn in (duplicate_ngram_spans, strip_duplicate_spans):
        plan = fn(docs, n=8)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_pair_enumeration_caps_raise_loudly(spark):
    """The candidate-volume guards must refuse quadratic blow-up BEFORE
    the join runs (sf10 lesson: the uncapped failure mode was 77 GB of
    shuffle spill, not an error), naming the linear alternatives."""
    import pandas as pd
    from handyspark_spark.pipeline.dedup import (containment_pairs,
                                                 ngram_jaccard_pairs,
                                                 simhash_neardup_pairs)
    base = "c0 c1 c2 c3 c4 c5 c6 c7"
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(200),
         "text": [f"{base} u{i}" for i in range(200)]}))
    with pytest.raises(ValueError, match="minhash_lsh_groups"):
        ngram_jaccard_pairs(df, threshold=0.8, max_candidate_pairs=1000)
    with pytest.raises(ValueError, match="minhash_lsh_groups"):
        ngram_jaccard_pairs(df, threshold=0.3, max_candidate_pairs=1000)
    with pytest.raises(ValueError, match="connected_components"):
        containment_pairs(df, max_candidate_pairs=1000)
    with pytest.raises(ValueError, match="minhash_lsh_groups"):
        simhash_neardup_pairs(df, max_candidate_pairs=1000)


def test_postings_cap_bounds_candidates_with_exact_scores(spark):
    """max_postings_per_token turns the raising fixture above into a
    bounded run whose emitted pairs still score EXACT Jaccard (prefix
    path verifies on full token sets); the kept pair set is exactly the
    pairs among the K smallest ids per prefix token."""
    import pandas as pd
    from handyspark_spark.pipeline.dedup import ngram_jaccard_pairs
    base = "c0 c1 c2 c3 c4 c5 c6 c7"
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(200),
         "text": [f"{base} u{i}" for i in range(200)]}))
    out = ngram_jaccard_pairs(df, threshold=0.8,
                              max_postings_per_token=8,
                              max_candidate_pairs=1000).collect()
    got = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in out}
    # every pair among ids 0..7 shares the 8 common tokens of a
    # 9-token set: jaccard = 8 / 10 exactly
    assert set(got) == {(a, b) for a in range(8) for b in range(8)
                        if a < b}
    assert all(abs(v - 0.8) < 1e-12 for v in got.values())
    # determinism of the salted two-phase truncation
    again = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in
             ngram_jaccard_pairs(df, threshold=0.8,
                                 max_postings_per_token=8,
                                 max_candidate_pairs=1000).collect()}
    assert again == got


def test_simhash_bucket_cap_bounds_candidates_exact_hamming(spark):
    """max_docs_per_bucket turns the raising simhash fixture into a
    bounded run: each (block, value) bucket keeps its K smallest doc
    ids, emitted pairs keep EXACT Hamming, and — because a pair's first
    agreeing block may have lost a member to the cap — the capped path
    emits from every surviving bucket and dedups, so each pair appears
    exactly once."""
    import pandas as pd
    from handyspark_spark.pipeline.dedup import simhash_neardup_pairs
    # 100 identical docs: one clique, all four blocks collide
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(100), "text": ["a b c d e f g h"] * 100}))
    out = simhash_neardup_pairs(df, max_hamming=3,
                                max_candidate_pairs=1000,
                                max_docs_per_bucket=8).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    # identical fingerprints -> every block bucket keeps ids 0..7, so
    # the pair set is exactly C(8,2) with hamming 0, each ONCE
    assert set(got) == {(a, b) for a in range(8) for b in range(8)
                        if a < b}
    assert len(out) == len(got) == 28
    assert all(h == 0 for h in got.values())
    # with a non-binding cap the result equals the uncapped enumeration
    small = df.limit(10)
    capped = {(r.id_a, r.id_b): r.hamming for r in
              simhash_neardup_pairs(small, max_candidate_pairs=None,
                                    max_docs_per_bucket=64).collect()}
    uncapped = {(r.id_a, r.id_b): r.hamming for r in
                simhash_neardup_pairs(small, max_candidate_pairs=None
                                      ).collect()}
    assert capped == uncapped


def test_pq_topk_deterministic_under_ties_and_batching(spark):
    """Top-k lists must follow the (score desc, neighbor_id asc)
    contract even when scores TIE inside an Arrow batch (duplicate
    vectors => identical codes => equal ADC scores, and equal exact
    cosines) and the batch cut lands inside a tie group, for both scan
    inputs: PQ codes and exact rows. Expected results computed
    independently in numpy from the same codebooks and centroids."""
    import numpy as np
    import pandas as pd
    from handyspark_spark.pipeline.similarity import (brute_force_topk,
                                                      ivf_topk, ivfpq_topk,
                                                      pq_topk)
    rng = np.random.RandomState(9)
    base = rng.randn(6, 8)
    # 50 copies of each of 6 distinct vectors, interleaved ids
    X = np.repeat(base, 50, axis=0)
    ids = np.arange(300)
    rng.shuffle(ids)
    pdf = pd.DataFrame({"vec_id": ids.astype("int64"),
                        "embedding": [r.tolist() for r in X]})
    books = rng.randn(2, 4, 4)          # m=2, k=4, dsub=4
    df = spark.createDataFrame(pdf).repartition(5)
    # the effective value (the default included), restored below
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    qs = df.filter(F.col("vec_id") < 3)
    # two cells of the exact scan, one per half of the distinct vectors
    C2 = base[[0, 3]] / np.linalg.norm(base[[0, 3]], axis=1, keepdims=True)
    try:
        # the independent expectation below computes the ADC scores in
        # float64 numpy, as the scan does. Two all-zero cells with
        # nprobe=1 run the same ADC through the probe mask (every row
        # lands in the probed cell 0).
        runs = {
            "pq_topk": pq_topk(df, qs, k=5, books=books,
                               rerank=None).collect(),
            "ivfpq_topk_masked": ivfpq_topk(
                df, qs, k=5, centroids=np.zeros((2, 8)), nprobe=1,
                books=books).collect()}
        exact = {"brute_force_topk": (brute_force_topk(df, qs, k=5),
                                      _np_topk(df, qs, 5)),
                 "ivf_topk": (ivf_topk(df, qs, k=5, centroids=C2,
                                       nprobe=1),
                              _np_topk(df, qs, 5, C2, 1))}
        exact = {name: (sorted(tuple(r) for r in got.collect()),
                        sorted(want)) for name, (got, want) in exact.items()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # independent expectation
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    codes = np.empty((300, 2), dtype=int)
    for j in range(2):
        S = Xn[:, j * 4:(j + 1) * 4]
        d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d2.argmin(axis=1)
    order = np.argsort(ids)
    by_id = {int(ids[i]): i for i in range(300)}
    for q in range(3):
        qi = by_id[q]
        lut = np.einsum("jd,jcd->jc", Xn[qi].reshape(2, 4), books)
        scores = {int(ids[i]): float(lut[0, codes[i, 0]]
                                     + lut[1, codes[i, 1]])
                  for i in range(300) if int(ids[i]) != q}
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        for name, got in runs.items():
            got_q = sorted([r for r in got if r.query_id == q],
                           key=lambda r: r.rank)
            assert [r.neighbor_id for r in got_q] == \
                [w[0] for w in want], (name, q)
            for r, w in zip(got_q, want):
                assert abs(r.score - round(w[1], 6)) < 1e-9, name
    for name, (got, want) in exact.items():
        assert got == want and len(got) == 15, name


@pytest.mark.parametrize("case", [
    "ivf_fit_centroids", "pq_codebooks", "ivfpq_fit", "brute_force_topk",
    "ivf_topk", "pq_topk", "pq_topk_rerank", "ivfpq_topk",
    "ivfpq_topk_rerank"])
def test_ann_empty_inputs(emb, case):
    """Degenerate-input contract of the IVF/PQ family: a fit on an empty
    corpus raises a named HandyException (not a numpy AxisError), and
    a search with an empty query frame returns no rows under the same
    schema as a non-empty search."""
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.pipeline import similarity as S
    fits = {"ivf_fit_centroids": dict(n_centroids=8),
            "pq_codebooks": dict(m=8, nbits=4, sample_n=256),
            "ivfpq_fit": dict(n_centroids=8, m=8, nbits=4, sample_n=256)}
    if case in fits:
        with pytest.raises(HandyException,
                           match=f"{case} .*the corpus has no vectors"):
            getattr(S, case)(emb.limit(0), **fits[case])
        return
    name = case.replace("_rerank", "")
    kw = {"brute_force_topk": {},
          "ivf_topk": dict(n_centroids=8, nprobe=2),
          "pq_topk": dict(m=8, nbits=4, sample_n=256),
          "ivfpq_topk": dict(n_centroids=8, nprobe=2, m=8, nbits=4,
                             sample_n=256)}[name]
    if case.endswith("_rerank"):
        kw["rerank"] = 10
    qs = emb.filter(F.col("vec_id") % 40 == 0)
    want = getattr(S, name)(emb, qs, k=3, **kw)
    got = getattr(S, name)(emb, qs.limit(0), k=3, **kw)
    assert got.schema == want.schema
    assert got.count() == 0 and want.count() > 0


@pytest.mark.parametrize("case", [
    "fit_null", "query_ragged", "encode_null", "blas_ragged", "scan_null"])
def test_ann_bad_vectors_named_error(spark, case):
    """A NULL or wrong-length vector is a named error naming the
    column, read at the one Arrow boundary: on the driver (fit sample,
    query matrix) a HandyException, inside a task the Python worker
    error that carries it."""
    import pandas as pd
    from pyspark.errors import PythonException

    from handyspark_spark.core.util import HandyException
    from handyspark_spark.pipeline import similarity as S
    X = np.random.RandomState(5).randn(20, 8)
    vecs = [r.tolist() for r in X]
    if case.endswith("null"):
        vecs[7], msg = None, "column 'embedding' has a NULL vector"
    else:
        vecs[7] = vecs[7][:3]
        msg = r"column 'embedding' has a vector of length \d, expected \d"
    bad = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(20, dtype="int64"),
                      "embedding": vecs}),
        "vec_id long, embedding array<double>")
    good = bad.filter(F.col("vec_id") != 7)
    C = np.eye(8)[:4]
    run = {"fit_null": lambda: S.ivf_fit_centroids(bad, n_centroids=32),
           "query_ragged": lambda: S.ivfpq_topk(
               good, bad, k=3, nprobe=2, m=2, nbits=2, sample_n=20),
           "encode_null": lambda: S.ivfpq_encode(
               bad, C, np.zeros((2, 4, 4))).collect(),
           "blas_ragged": lambda: S.neardup_pairs_blas(bad).collect(),
           "scan_null": lambda: S.brute_force_topk(
               bad, good.limit(3), k=3).collect()}
    on_driver = case in ("fit_null", "query_ragged")
    with pytest.raises(HandyException if on_driver else PythonException,
                       match=msg):
        run[case]()


@pytest.mark.parametrize("case", [
    "brute_force_topk", "ivf_topk", "pq_topk", "pq_topk_rerank",
    "ivfpq_topk", "ivfpq_topk_rerank"])
def test_ann_zero_vector_scores_zero(spark, case):
    """A zero vector, as corpus row and as query, scores cosine 0 in
    every search (the scan's unit-row norm floor, the rerank's zero
    guard) instead of raising DIVIDE_BY_ZERO: the exact searches and
    the exact switch equal the numpy reference, and pure ADC ranks every
    row of a zero query at 0, ties to the lower id."""
    import pandas as pd
    from handyspark_spark.pipeline import similarity as S
    X = np.random.RandomState(11).randn(60, 8)
    X[5] = 0.0
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(60, dtype="int64"),
                      "embedding": [r.tolist() for r in X]}),
        "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 8)
    name = case.replace("_rerank", "")
    kw = {"brute_force_topk": {},
          "ivf_topk": dict(n_centroids=4, nprobe=4),
          "pq_topk": dict(m=4, nbits=2, sample_n=60),
          "ivfpq_topk": dict(n_centroids=4, nprobe=4, m=4, nbits=2,
                             sample_n=60)}[name]
    if case.endswith("_rerank"):
        kw["rerank"] = 60
    got = sorted(tuple(r) for r in getattr(S, name)(df, qs, k=3, **kw)
                 .collect())
    if name in ("pq_topk", "ivfpq_topk") and "rerank" not in kw:
        assert [r[1:] for r in got if r[0] == 5] == \
            [(0, 0.0, 1), (1, 0.0, 2), (2, 0.0, 3)]
        assert len(got) == 24 and not np.isnan([r[2] for r in got]).any()
    else:
        assert got == sorted(_np_topk(df, qs, 3))


def test_ivf_zero_vector_gives_no_nan_centroid(spark):
    """A zero vector sampled as a centroid used to divide by a bare 0
    norm: centroid 0 became NaN and np.argmax (NaN is the max) then put
    every row in cell 0. Unit rows floor the norm, so the centroid stays
    a zero row and the assignment spreads over the other cells."""
    import hashlib
    import pandas as pd
    from handyspark_spark.pipeline.ann_index import IVFIndex
    rng = np.random.RandomState(3)
    X = rng.randn(400, 16)
    first = min(range(400),
                key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    X[first] = 0.0                  # the md5-first id is sampled first
    df = spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(400, dtype="int64"),
         "embedding": [r.tolist() for r in X]}))
    idx = IVFIndex.fit(df, n_centroids=8)
    assert not np.isnan(idx.centroids).any()
    assert not idx.centroids[0].any()
    occupied = idx.assign(df).select("_cell").distinct().count()
    assert occupied > 1


def test_index_cache_rejects_same_n_different_data(spark, tmp_path,
                                                   monkeypatch):
    """The ANN oracle export protocol (``queries._fit_ann_index``): two
    datasets with equal n own sibling fp dirs, the per-n ``_CURRENT``
    pointer follows the last export, the index each call searches is
    its own fit (the exact switch equals numpy brute force on each
    dataset), and a fresh fit is bit-equal to the committed export, so
    the DuckDB oracle reads the index the call searched."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from handyspark_spark import queries as Q
    from handyspark_spark.pipeline.ann_index import PQIndex
    from handyspark_spark.pipeline.index_cache import (IndexCache,
                                                        dataset_fingerprint)

    monkeypatch.setenv("HSQ_INDEX_CACHE_ROOT", str(tmp_path / "cache"))
    cache = IndexCache("hsq_pq_idx")
    sub = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .head(37)
    # same n and the same vector SET, a different id -> vector mapping
    flipped = sub.copy()
    flipped["embedding"] = list(sub["embedding"].iloc[1:]) + \
        [sub["embedding"].iloc[0]]
    fps = {}
    for name, pdf in (("a", sub), ("b", flipped)):
        (tmp_path / name).mkdir()
        pdf.to_parquet(tmp_path / name / "embeddings.parquet")
        sf_dir = str(tmp_path / name)
        idx, n = Q._fit_ann_index(spark, sf_dir, "hsq_pq_idx")
        fps[name] = fp = dataset_fingerprint(sf_dir)
        assert n == 37 and cache.is_committed(n, fp)
        assert cache.current(n) == fp
        exported = pq.read_table(f"{cache.dir_for(n, fp)}/cells.parquet")
        books = np.zeros(idx.books.shape)
        books[tuple(exported[a].to_numpy()
                    for a in ("subspace", "code", "pos"))] = \
            exported["val"].to_numpy()
        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        fresh = PQIndex.fit(df, m=16, nbits=4).books
        assert np.array_equal(fresh, books)
        assert np.array_equal(idx.books, books)
        qs = df.filter(F.col("vec_id") < 3)
        got = {(r.query_id, r.neighbor_id)
               for r in idx.search(df, qs, k=3, rerank=n).collect()}
        assert got == {(r[0], r[1]) for r in _np_topk(df, qs, 3)} and got
    assert fps["a"] != fps["b"]
    assert sorted(os.listdir(cache.n_dir(37))) == \
        sorted(["_CURRENT", f"fp={fps['a']}", f"fp={fps['b']}"])
    # exporting dataset a again keeps its committed dir and re-aims the
    # pointer at it
    Q._fit_ann_index(spark, str(tmp_path / "a"), "hsq_pq_idx")
    assert cache.current(37) == fps["a"] and cache.is_committed(37, fps["b"])


def test_index_cache_protocol_on_memory_fs():
    """The IndexCache control plane runs on the FS seam: on a KV store
    with object-store semantics (MemoryFS), the marker-last protocol
    must treat a crash-before-marker wreck as absent, an interrupted
    commit must leave the dir invalid, and _CURRENT must be one atomic
    pointer flip."""
    import pytest

    from handyspark_spark.pipeline.index_cache import IndexCache
    from handyspark_spark.streaming.fs import CrashInjected, MemoryFS

    fs = MemoryFS()
    cache = IndexCache("idx", root="mem://cache", fs=fs)

    # no dir at all -> miss
    assert not cache.is_committed(10, "aaaa")

    # simulate a build that crashed before the marker: artifacts
    # present, no marker -> miss, wreck discarded
    fs.store[f"{cache.dir_for(10, 'aaaa')}/cells.parquet/part-0"] = "x"
    assert not cache.is_committed(10, "aaaa")
    assert not fs.isdir(cache.dir_for(10, "aaaa"))

    # full build + commit -> hit, pointer aimed
    fs.store[f"{cache.dir_for(10, 'aaaa')}/cells.parquet/part-0"] = "x"
    cache.commit(10, "aaaa")
    assert cache.is_committed(10, "aaaa")
    assert cache.current(10) == "aaaa"

    # sibling dataset, same n: own dir, pointer flips, first dir intact
    fs.store[f"{cache.dir_for(10, 'bbbb')}/cells.parquet/part-0"] = "y"
    cache.commit(10, "bbbb")
    assert cache.current(10) == "bbbb"
    assert cache.is_committed(10, "aaaa")
    assert fs.store[f"{cache.dir_for(10, 'aaaa')}/cells.parquet/part-0"] \
        == "x"
    # cache-hit validation re-aims the pointer without touching data
    cache.point_current(10, "aaaa")
    assert cache.current(10) == "aaaa"

    # crash DURING commit (marker is the first mutating op): the dir
    # must read as uncommitted afterwards — marker-last means the
    # marker's absence proves incompleteness
    fs2 = MemoryFS()
    cache2 = IndexCache("idx", root="mem://cache", fs=fs2)
    fs2.store[f"{cache2.dir_for(5, 'cccc')}/cells.parquet/part-0"] = "x"
    fs2.fail_after = 0
    with pytest.raises(CrashInjected):
        cache2.commit(5, "cccc")
    fs2.fail_after = None
    assert not cache2.is_committed(5, "cccc")    # wreck -> discarded
    assert cache2.current(5) is None


def _exact_substr_reference(rows, n, min_count):
    """Pure-Python ExactSubstr: count every n-token gram over the whole
    corpus, keep the start positions of grams seen >= min_count times,
    and merge each doc's positions into islands (a gap of more than n
    starts a new one). Returns sorted (doc_id, start, end, tokens)."""
    from collections import Counter
    toks = {d: t.split(" ") for d, t in rows}
    grams = {d: [" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)]
             for d, ts in toks.items()}
    count = Counter(g for gs in grams.values() for g in gs)
    out = []
    for d, gs in grams.items():
        pos = [i + 1 for i, g in enumerate(gs) if count[g] >= min_count]
        start = None
        for k, p in enumerate(pos):
            if start is None:
                start = p
            if k + 1 == len(pos) or pos[k + 1] - p > n:
                out.append((d, start, p + n, p + n - start))
                start = None
    return sorted(out)


def test_dup_spans_routing_regimes_match_reference(docs, spark,
                                                   monkeypatch):
    """The hot-gram routing must give the exact ExactSubstr spans in
    every regime: the default mixed routing, everything-hot (every
    position sampled, _HOT_MIN at min_count -> pure broadcast bypass),
    everything-cold (nothing sampled -> pure window path), and a
    truncated hot list (the rest falls to the cold path)."""
    from handyspark_spark.pipeline import dedup

    rows = [(r.doc_id, r.text) for r in
            docs.select("doc_id", "text").orderBy("doc_id").limit(400)
            .collect()]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    want = _exact_substr_reference(rows, 8, 2)
    assert len(want) > 0
    regimes = [
        {},                                          # default mixed
        {"_SAMPLE_RATE_INV": 1, "_HOT_MIN": 2},      # all duplicates hot
        {"_SAMPLE_RATE_INV": 1 << 40},               # nothing sampled
        {"_SAMPLE_RATE_INV": 1, "_HOT_MIN": 2,
         "_MAX_HOT_GRAMS": 1},                       # truncation -> cold
    ]
    for kw in regimes:
        with monkeypatch.context() as mp:
            for name, value in kw.items():
                mp.setattr(dedup, name, value)
            got = sorted(tuple(r) for r in dedup.duplicate_ngram_spans(
                d, n=8, min_count=2).collect())
        assert got == want, f"regime {kw} diverged"
    # same-doc repeats and gaps keep ExactSubstr semantics on the
    # hot bypass too
    text = "a b c d " + "f1 f2 f3 f4 f5 f6 f7 f8 " + "a b c d"
    one = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    monkeypatch.setattr(dedup, "_SAMPLE_RATE_INV", 1)
    monkeypatch.setattr(dedup, "_HOT_MIN", 2)
    rows = sorted(dedup.duplicate_ngram_spans(
        one, n=4, min_count=2).collect(), key=lambda r: r["span_start"])
    assert [(r["span_start"], r["span_end"]) for r in rows] \
        == [(1, 5), (13, 17)]
    assert _exact_substr_reference([(1, text)], 4, 2) \
        == [(1, 1, 5, 4), (1, 13, 17, 4)]


def test_dup_spans_hot_plan_shape(docs):
    """Plan pins for the hot hybrid: the hot list arrives by BROADCAST
    (no shuffle of the corpus for the routing decision), the count
    window is keyed by (_h1, _h2, _salt) so a hot gram spreads over
    ``_N_SALTS`` tasks instead of serializing, and no Python evaluator
    appears anywhere."""
    from handyspark_spark.pipeline.dedup import duplicate_ngram_spans
    plan = duplicate_ngram_spans(docs, n=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "_salt" in plan and "windowspecdefinition(_h1" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_index_cache_prune_siblings():
    """Sibling GC: prunes only OTHER fp dirs, never the kept one or the
    _CURRENT pointer; age-gated pruning skips dirs whose marker age is
    unknowable (non-local FS); max_age_s=None prunes regardless."""
    from handyspark_spark.pipeline.index_cache import IndexCache
    from handyspark_spark.streaming.fs import MemoryFS

    fs = MemoryFS()
    cache = IndexCache("idx", root="mem://c", fs=fs)
    for fp in ("aaaa", "bbbb", "cccc"):
        fs.store[f"{cache.dir_for(7, fp)}/cells.parquet/p0"] = "x"
        cache.commit(7, fp)

    # age-gated: MemoryFS has no mtimes -> nothing prunable
    assert cache.prune_siblings(7, "cccc") == []
    assert cache.is_committed(7, "aaaa")

    # unconditional: siblings go, kept fp + pointer stay
    gone = cache.prune_siblings(7, "cccc", max_age_s=None)
    assert sorted(gone) == [cache.dir_for(7, "aaaa"),
                            cache.dir_for(7, "bbbb")]
    assert cache.is_committed(7, "cccc")
    assert cache.current(7) == "cccc"
    assert not fs.isdir(cache.dir_for(7, "aaaa"))


def test_index_cache_pointer_interleaving_never_mixes():
    """Concurrency pin for the _CURRENT pointer protocol: two builders
    over same-rowcount datasets (different fps) interleaved with a
    reader, at EVERY interleaving of their protocol steps. Because the
    fp is in the path (immutable dirs) and the pointer/marker puts are
    atomic, the reader must either (a) see a loud miss (no pointer, or
    pointer to a dir without a committed matching marker) or (b) see a
    fully consistent dir — every artifact from the SAME build the
    pointer names. Mixed artifacts (cells from A, codes from B) must be
    impossible in every ordering."""
    import itertools

    from handyspark_spark.pipeline.index_cache import IndexCache
    from handyspark_spark.streaming.fs import MemoryFS

    n = 42

    def build_steps(cache, fp):
        # the real builder sequence: write artifacts, then marker-last
        # commit (which also re-aims _CURRENT), then a later cache-hit
        # validation that re-aims the pointer again
        d = cache.dir_for(n, fp)
        fs = cache.fs
        yield lambda: fs.put_atomic(f"{d}/cells.parquet/p0", fp)
        yield lambda: fs.put_atomic(f"{d}/codes.parquet/p0", fp)
        yield lambda: cache.commit(n, fp)
        yield lambda: cache.point_current(n, fp)

    def read(cache):
        # the oracle's read path: resolve pointer, validate marker
        # READ-ONLY, then read every artifact of the named dir
        fp = cache.current(n)
        if fp is None:
            return "miss"
        d = cache.dir_for(n, fp)
        fs = cache.fs
        try:
            if fs.read_text(f"{d}/{cache.MARKER}").strip() != fp:
                return "miss"
            vals = {fs.read_text(f"{d}/cells.parquet/p0"),
                    fs.read_text(f"{d}/codes.parquet/p0")}
        except (OSError, KeyError):
            return "miss"           # loud: incomplete/vanished dir
        return fp, vals

    for order in sorted(set(itertools.permutations("AAAABBBB"))):
        fs = MemoryFS()
        cache = IndexCache("idx", root="mem://c", fs=fs)
        gens = {"A": build_steps(cache, "fp_a"),
                "B": build_steps(cache, "fp_b")}
        for who in order:
            next(gens[who])()
            got = read(cache)
            if got != "miss":
                fp, vals = got
                assert vals == {fp}, (order, got)


def test_fs_mtime_seam():
    """fs.mtime: LocalFS exposes real mtimes; the base/MemoryFS
    contract returns None ('age unknowable'), which prune_siblings
    treats as not-prunable under an age gate."""
    import os
    import tempfile
    import time

    from handyspark_spark.streaming.fs import FS, LocalFS, MemoryFS

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "marker")
        with open(p, "w") as f:
            f.write("x")
        mt = LocalFS().mtime(p)
        assert mt is not None and abs(time.time() - mt) < 300
        assert LocalFS().mtime(os.path.join(d, "absent")) is None
    assert MemoryFS().mtime("mem://a/b") is None
    assert FS().mtime("anything") is None


def test_exact_switch_rerank_never_broadcasts_shortlist(spark):
    """rerank ~ corpus => the shortlist is |queries| x |corpus| rows;
    AQE's size estimate (ids compress well) would broadcast it as a
    driver-built HashedRelation — measured 4x slower than merge at sf10
    and a driver-memory hazard at scale. The corpus join must be pinned
    to SortMergeJoin when the declared shortlist bound is large, while
    the small-rerank production shape keeps broadcast eligibility."""
    import numpy as np
    import pandas as pd

    from handyspark_spark.pipeline.similarity import (pq_codebooks,
                                                      pq_topk)
    rng = np.random.RandomState(0)
    pdf = pd.DataFrame({"vec_id": range(300),
                        "embedding": [rng.randn(8).astype("float32")
                                      for _ in range(300)]})
    df = spark.createDataFrame(pdf)
    qs = df.filter("vec_id < 3")
    books = pq_codebooks(df, "embedding", "vec_id", m=2, nbits=3)

    big = pq_topk(df, qs, k=3, rerank=300_000, books=books)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_big

    small = pq_topk(df, qs, k=3, rerank=10, books=books)
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan_small


def test_lsh_incremental_matches_hot_bucket_guard(spark, tables):
    """The max_bucket_size guard collapses oversized-bucket matches to
    the cluster representative (min accepted id) without changing the
    match VERDICT: the set of colliding new docs is identical to the
    unguarded form, and every guarded pair is either an unguarded pair
    (small bucket) or the min old id of a shared oversized bucket."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.dedup import (lsh_bucket_state,
                                                 lsh_incremental_matches)
    docs = tables["documents"]
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    state = lsh_bucket_state(old, num_hashes=16, bands=2)
    # cap=1 forces EVERY multi-doc bucket through the representative
    # path — maximally different fan-out from the unguarded form
    unguarded = {(r["doc_id"], r["match_id"]) for r in
                 lsh_incremental_matches(state, new, num_hashes=16,
                                         bands=2).collect()}
    for cap in (1, 3, 10**9):
        guarded = {(r["doc_id"], r["match_id"]) for r in
                   lsh_incremental_matches(
                       state, new, num_hashes=16, bands=2,
                       max_bucket_size=cap).collect()}
        # same verdict: identical set of colliding new docs
        assert {g for g, _ in guarded} == {g for g, _ in unguarded}
        # guarded pairs point at real accepted docs the new doc shares
        # a bucket with (representatives are bucket members)
        assert guarded <= unguarded
        if cap == 10**9:  # no bucket oversized -> identical pair sets
            assert guarded == unguarded


def test_snapshot_diff_statuses_and_fp_col_parity(spark):
    from handyspark_spark.pipeline.snapshot import (
        content_fingerprint, diff_summary, snapshot_diff)
    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], ["id", "body"])
    b = spark.createDataFrame(
        [(2, "y"), (3, "z2"), (4, "w")], ["id", "body"])
    got = {r["id"]: r["status"]
           for r in snapshot_diff(a, b, "id",
                                  fingerprint_cols=["body"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed",
                   4: "added"}
    # precomputed-fingerprint path (manifest diff) gives the same verdicts
    af = a.withColumn("fp", content_fingerprint(["body"]))
    bf = b.withColumn("fp", content_fingerprint(["body"]))
    got_fp = {r["id"]: r["status"]
              for r in snapshot_diff(af, bf, "id", fp_col="fp").collect()}
    assert got_fp == got
    summ = {r["status"]: r["n_docs"]
            for r in diff_summary(
                snapshot_diff(a, b, "id",
                              fingerprint_cols=["body"])).collect()}
    assert summ == {"added": 1, "removed": 1, "changed": 1,
                    "unchanged": 1}
    with pytest.raises(ValueError):
        snapshot_diff(a, b, "id")
    with pytest.raises(ValueError):
        snapshot_diff(af, bf, "id", fingerprint_cols=["body"],
                      fp_col="fp")


def test_snapshot_diff_fingerprint_separator_distinguishes_shifts(spark):
    # ("ab","c") vs ("a","bc") must not collide in a multi-column fp
    from handyspark_spark.pipeline.snapshot import snapshot_diff
    a = spark.createDataFrame([(1, "ab", "c")], ["id", "u", "v"])
    b = spark.createDataFrame([(1, "a", "bc")], ["id", "u", "v"])
    st = snapshot_diff(a, b, "id",
                       fingerprint_cols=["u", "v"]).collect()[0]["status"]
    assert st == "changed"


def _stage_tasks(spark, group, fn):
    """Task count of every stage that ran in the jobs ``fn`` starts,
    under a fresh job group (a skipped stage, e.g. the lineage of a
    cache, completes no task and is left out)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [st.getStageInfo(s)
              for j in sorted(st.getJobIdsForGroup(group))
              for s in st.getJobInfo(j).stageIds]
    return [s.numTasks for s in stages if s.numCompletedTasks]


def _ann_corpus(spark, n, seed=3, dim=8):
    import pandas as pd
    X = np.random.RandomState(seed).randn(n, dim)
    return spark.createDataFrame(pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"),
         "embedding": [r.tolist() for r in X]}))


def test_arrow_stages_one_task_per_batch(spark):
    """A cached frame whose rows fit one Arrow batch runs the map-side
    Arrow stages (the IVF-PQ encode, the nearest-cell assign and the
    top-k scan) as one task each, whatever its partition count."""
    from handyspark_spark.pipeline import similarity as S
    from handyspark_spark.pipeline.ann_index import IVFIndex
    df = _ann_corpus(spark, 6000).repartition(4).cache()
    try:
        df.count()
        C, books = S.ivfpq_fit(df, n_centroids=4, m=2, nbits=2,
                               sample_n=256)
        enc = S.ivfpq_encode(df, C, books)
        assert set(_stage_tasks(spark, "one-encode", enc.collect)) == {1}
        enc = enc.cache()
        enc.count()
        assign = IVFIndex(C).assign(df)
        assert set(_stage_tasks(spark, "one-assign", assign.collect)) == {1}
        qt = S._query_table(df, df.limit(32), "embedding", "vec_id", 100,
                            "t")
        rows = enc.select(F.col("vec_id").alias("neighbor_id"), "cell",
                          "pq_code")
        pq = S._topk_scan(rows, qt, C, 2, 10, "embedding", books)
        assert set(_stage_tasks(spark, "one-scan-pq", pq.collect)) == {1}
        exact = S._topk_scan(
            df.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("_v")), qt, C, 2, 10,
            "embedding")
        assert set(_stage_tasks(spark, "one-scan", exact.collect)) == {1}
        enc.unpersist()
    finally:
        df.unpersist()


def test_arrow_scan_spreads_above_one_batch(spark, tmp_path, monkeypatch):
    """Above one Arrow batch (a cached frame over
    ``maxRecordsPerBatch``), above one task's score bound (|queries| x
    |rows| over ``_ONE_TASK_SCORES``), and on a file scan whose plan
    states no row count, the top-k scan still spreads over
    ``defaultParallelism`` tasks; ``maxRecordsPerBatch`` <= 0 is no
    limit, so a small cached frame stays one task."""
    from handyspark_spark.pipeline import similarity as S
    n = spark.sparkContext.defaultParallelism
    C = np.zeros((1, 8))

    def scan_tasks(src, group):
        qt = S._query_table(src, src.limit(4), "embedding", "vec_id", 10,
                            "t")
        rows = src.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("_v"))
        return _stage_tasks(spark, group, S._topk_scan(
            rows, qt, C, 1, 5, "embedding").collect)

    _ann_corpus(spark, 300).coalesce(1).write.parquet(str(tmp_path / "c"))
    files = spark.read.parquet(str(tmp_path / "c"))
    assert max(scan_tasks(files, "spread-parquet")) >= n
    cached = _ann_corpus(spark, 300).coalesce(1).cache()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        cached.count()
        assert max(scan_tasks(cached, "spread-one-batch")) == 1
        spark.conf.set(key, "0")
        assert max(scan_tasks(cached, "spread-unbounded-batch")) == 1
        spark.conf.set(key, "100")
        assert max(scan_tasks(cached, "spread-cached")) >= n
        spark.conf.set(key, old)
        monkeypatch.setattr(S, "_ONE_TASK_SCORES", 4 * 300 - 1)
        assert max(scan_tasks(cached, "spread-scores")) >= n
    finally:
        spark.conf.set(key, old)
        cached.unpersist()


def test_arrow_sized_keeps_caller_work_spread(spark):
    """The one-task path takes a materialized cache or a local relation
    under plain projections only: a caller's Arrow UDF or computed
    column over a small cached frame, a ``range`` and a cache not yet
    loaded keep their partitions, and so does the encode over them."""
    from handyspark_spark.pipeline import similarity as S
    df = _ann_corpus(spark, 600).repartition(4).cache()
    try:
        df.count()
        C, books = S.ivfpq_fit(df, n_centroids=2, m=2, nbits=2,
                               sample_n=128)
        ident = F.arrow_udf(lambda v: v, "array<double>")
        udf = df.withColumn("embedding", ident("embedding"))
        computed = df.withColumn("n", F.sqrt(F.col("vec_id")))
        unloaded = _ann_corpus(spark, 600, seed=5).repartition(4).cache()
        for name, src in (("udf", udf), ("computed", computed),
                          ("unloaded", unloaded)):
            assert S._stated_rows(src) is None, name
            assert S._arrow_sized(src).rdd.getNumPartitions() == 4, name
        assert set(_stage_tasks(spark, "keep-udf", S.ivfpq_encode(
            udf, C, books).collect)) == {4}
        r = spark.range(0, 600, numPartitions=4)
        assert S._stated_rows(r) is None
        assert S._arrow_sized(r).rdd.getNumPartitions() == 4
        plain = df.select(F.col("vec_id").cast("string").alias("id"),
                          F.lit(0).alias("cell"))
        assert S._stated_rows(plain) == 600
        unloaded.unpersist()
    finally:
        df.unpersist()


def test_arrow_one_task_path_equals_spread_path(spark):
    """The ANN searches return the same rows on the one-task path as on
    a forced many-partition path (``maxRecordsPerBatch=37`` turns the
    rule off and cuts 37-row batches), on duplicate-row corpora whose
    ties straddle the batch cuts. The 64-dim corpus's rerank cases
    keep ties at the shortlist cut: a BLAS product per batch gives the
    tied rows different last bits in batches of different shapes."""
    import pandas as pd
    from handyspark_spark.pipeline import similarity as S

    def tie_corpus(rng, dim):
        base = rng.randn(6, dim)
        ids = np.arange(300)
        rng.shuffle(ids)
        return base, spark.createDataFrame(pd.DataFrame(
            {"vec_id": ids.astype("int64"),
             "embedding": [r.tolist() for r in np.repeat(base, 50, axis=0)]
             })).repartition(5)

    rng = np.random.RandomState(9)
    base, df = tie_corpus(rng, 8)
    qs = df.filter(F.col("vec_id") < 3)
    books = rng.randn(2, 4, 4)
    C2 = base[[0, 3]] / np.linalg.norm(base[[0, 3]], axis=1, keepdims=True)
    rng64 = np.random.RandomState(4)
    _, wide = tie_corpus(rng64, 64)
    wide_qs = wide.filter(F.col("vec_id") < 3)
    wide_books = rng64.randn(16, 4, 4)
    searches = {
        "brute_force_topk": lambda: S.brute_force_topk(df, qs, k=5),
        "ivf_topk": lambda: S.ivf_topk(df, qs, k=5, centroids=C2,
                                       nprobe=1),
        "ivfpq_topk": lambda: S.ivfpq_topk(
            df, qs, k=5, centroids=C2, nprobe=2, books=books),
        "ivfpq_topk_rerank": lambda: S.ivfpq_topk(
            df, qs, k=5, centroids=C2, nprobe=1, books=books, rerank=20),
        "pq_topk_rerank_wide": lambda: S.pq_topk(
            wide, wide_qs, k=5, books=wide_books, rerank=20),
        "pq_topk_rerank_k_wide": lambda: S.pq_topk(
            wide, wide_qs, k=5, books=wide_books, rerank=5)}

    def run():
        return {name: sorted(tuple(r) for r in fn().collect())
                for name, fn in searches.items()}

    sc = spark.sparkContext
    for frame in (df, wide):
        assert S._arrow_sized(frame, queries=3).rdd.getNumPartitions() == 1
    one = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        for frame in (df, wide):
            assert (S._arrow_sized(frame, queries=3).rdd.getNumPartitions()
                    == sc.defaultParallelism)
        spread = run()
    finally:
        spark.conf.set(key, old)
    for name in searches:
        assert one[name] == spread[name] and len(one[name]) == 15, name


def test_shingle_rows_equal_exploded_rolling_hashes(spark, docs):
    """``shingle_rows`` gives the multiset of ``explode(rolling_hashes)``
    bit for bit, per document, including NULL and empty texts, doubled
    spaces and documents shorter than k, and its per-gram hash is a
    codegen'd projection over a codegen'd Generate, no lambda."""
    from handyspark_spark.pipeline.text import rolling_hashes, shingle_rows
    edge = spark.createDataFrame(
        [(10 ** 9, None), (10 ** 9 + 1, ""), (10 ** 9 + 2, "a  b c"),
         (10 ** 9 + 3, "a b")], "doc_id long, text string")
    df = docs.select("doc_id", "text").unionByName(edge)
    for k in (5, 13):
        got = shingle_rows(df, "text", k, ["doc_id"])
        want = df.select("doc_id",
                         F.explode(rolling_hashes("text", k)).alias("_k"))
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == sorted(tuple(r) for r in want.collect())
        assert len(rows) > df.count()
    top, gen = (line.strip(" +-") for line in got._jdf.queryExecution()
                .executedPlan().toString().split("\n")[:2])
    assert top.startswith("*(") and "Project" in top
    assert "xxhash64" in top and "lambda" not in top
    assert gen.startswith("*(") and "Generate explode(sequence" in gen
