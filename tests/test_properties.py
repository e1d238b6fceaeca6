"""Property-based tests (hypothesis): operator invariants on random
frames — a layer the reference's fixed-fixture strategy lacks."""
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from handyspark_spark import toHandy

SETTINGS = dict(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])


def _frame(spark, values):
    pdf = pd.DataFrame({
        "k": [v % 3 for v in range(len(values))],
        "v": values})
    return spark.createDataFrame(pdf.astype({"k": "int64", "v": "float64"}))


@given(values=st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=5,
    max_size=60))
@settings(**SETTINGS)
def test_fence_never_widens_range(spark, values):
    df = _frame(spark, values)
    fenced = toHandy(df).fence(["v"], exact=True)
    lo, hi = fenced._df.agg({"v": "min"}).collect()[0][0], \
        fenced._df.agg({"v": "max"}).collect()[0][0]
    assert lo >= min(values) - 1e-9
    assert hi <= max(values) + 1e-9
    # row count preserved (winsorize, not filter)
    assert fenced._df.count() == len(values)


@given(values=st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=5,
    max_size=60))
@settings(**SETTINGS)
def test_exact_median_matches_numpy(spark, values):
    df = _frame(spark, values)
    got = toHandy(df).cols["v"].median(exact=True)
    assert abs(got - np.median(values)) < 1e-9


@given(values=st.lists(st.integers(min_value=0, max_value=5), min_size=3,
                       max_size=60))
@settings(**SETTINGS)
def test_value_counts_total_and_mode(spark, values):
    df = _frame(spark, [float(v) for v in values])
    h = toHandy(df)
    vc = h.cols["v"].value_counts()
    assert vc.sum() == len(values)
    mode = h.cols["v"].mode()
    pd_modes = pd.Series(values).mode()
    assert mode in set(pd_modes.astype(float))


@given(values=st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False), min_size=6,
    max_size=50))
@settings(**SETTINGS)
def test_cumsum_last_equals_sum(spark, values):
    from pyspark.sql import functions as F
    df = _frame(spark, values).withColumn(
        "seq", F.monotonically_increasing_id())
    h = toHandy(df)
    s = h.ordered(by="seq", partition="k")["v"]
    out = h.assign(cs=s.cumsum())
    per_key_last = (out._df.groupBy("k").agg(F.max("seq").alias("seq"))
                    .join(out._df, ["k", "seq"]).select("k", "cs")
                    .toPandas().set_index("k")["cs"].sort_index())
    exp = (pd.DataFrame({"k": [i % 3 for i in range(len(values))],
                         "v": values})
           .groupby("k")["v"].sum().sort_index())
    np.testing.assert_allclose(per_key_last.values, exp.values,
                               rtol=1e-9, atol=1e-6)


@given(texts=st.lists(st.text(
    alphabet=st.sampled_from("ab cd"), min_size=1, max_size=30),
    min_size=2, max_size=20))
@settings(**SETTINGS)
def test_jaccard_strategies_agree(spark, texts):
    """The bitmask, prefix and inverted-index Jaccard plans must produce
    identical pairs. The plan follows the input, so the module
    constants force each one: a zero row cap turns the bitmask off,
    leaving the inverted join at threshold 0.3 or, with a zero prefix
    threshold, the prefix plan."""
    from handyspark_spark.pipeline import dedup
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)

    def pairs(**consts):
        with pytest.MonkeyPatch.context() as mp:
            for name, value in consts.items():
                mp.setattr(dedup, name, value)
            return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                    dedup.ngram_jaccard_pairs(df, threshold=0.3).collect()}

    bitmask = pairs()
    inverted = pairs(_BITMASK_MAX_ROWS=0)
    prefix = pairs(_BITMASK_MAX_ROWS=0, _PREFIX_MIN_THRESHOLD=0.0)
    assert bitmask == inverted == prefix


@given(budget1=st.integers(min_value=1, max_value=50),
       budget2_delta=st.integers(min_value=1, max_value=100),
       weights=st.lists(st.integers(min_value=1, max_value=20),
                        min_size=4, max_size=40))
@settings(**SETTINGS)
def test_token_budget_sample_monotone_and_bounded(spark, budget1,
                                                  budget2_delta, weights):
    """Same ordering + running totals => a smaller budget's sample is a
    SUBSET of a larger one's, and no group exceeds its budget."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.sample import token_budget_sample
    pdf = pd.DataFrame({
        "id": range(len(weights)),
        "g": [i % 2 for i in range(len(weights))],
        "w": weights})
    df = spark.createDataFrame(
        pdf.astype({"id": "int64", "g": "int64", "w": "int64"}))
    b2 = budget1 + budget2_delta
    small = {r["id"] for r in
             token_budget_sample(df, "id", "w", budget1, by="g")
             .select("id").collect()}
    big = {r["id"] for r in
           token_budget_sample(df, "id", "w", b2, by="g")
           .select("id").collect()}
    assert small <= big
    sums = (token_budget_sample(df, "id", "w", budget1, by="g")
            .groupBy("g").agg(F.sum("w").alias("s")).collect())
    assert all(r["s"] <= budget1 for r in sums)


@given(n1=st.integers(min_value=1, max_value=10),
       n2_delta=st.integers(min_value=1, max_value=10),
       weights=st.lists(st.integers(min_value=1, max_value=50),
                        min_size=3, max_size=30))
@settings(**SETTINGS)
def test_weighted_sample_nested_and_sized(spark, n1, n2_delta, weights):
    """Priorities are fixed per row => top-n1 ⊆ top-(n1+d); output size
    is min(n, rows)."""
    from handyspark_spark.pipeline.sample import weighted_sample
    pdf = pd.DataFrame({"id": range(len(weights)), "w": weights})
    df = spark.createDataFrame(pdf.astype({"id": "int64", "w": "int64"}))
    a = {r["id"] for r in weighted_sample(df, "id", "w", n1).collect()}
    b = {r["id"] for r in
         weighted_sample(df, "id", "w", n1 + n2_delta).collect()}
    assert a <= b
    assert len(a) == min(n1, len(weights))


@given(keys=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                     min_size=1, max_size=30, unique=True),
       m_exp=st.integers(min_value=8, max_value=14),
       k=st.integers(min_value=1, max_value=6))
@settings(**SETTINGS)
def test_bloom_no_false_negatives_any_params(spark, keys, m_exp, k):
    from pyspark.sql import functions as F
    from handyspark_spark.operators.bloom import (bloom_build,
                                                  bloom_probe_col)
    pdf = pd.DataFrame({"k": keys})
    df = spark.createDataFrame(pdf)
    m = 1 << m_exp
    bloom = bloom_build(df, "k", m_bits=m, k=k)
    probed = bloom_probe_col(df, "k", bloom, m, k)
    assert all(r["_maybe"] for r in probed.collect())


@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=40),
                min_size=1, max_size=25))
@settings(max_examples=12, deadline=None)
def test_passage_dedup_conservation(spark, texts):
    """Across the corpus: total kept passages == distinct passage
    hashes; per doc 0 <= n_kept <= n_passages."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.dedup import passage_dedup
    from handyspark_spark.pipeline.text import let_bound, tokens
    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"])
    out = passage_dedup(df, passage_tokens=3).collect()
    assert all(0 <= r["n_kept"] <= r["n_passages"] for r in out)
    k = 3

    def body(tk):
        n_pass = F.ceil(F.size(tk) / F.lit(float(k))).cast("int")
        idx = F.sequence(F.lit(0), F.greatest(n_pass - 1, F.lit(0)))
        return F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(tk, i * k + 1, k)))
    distinct_passages = (df.select(F.explode(
        let_bound(tokens("text"), body)).alias("p"))
        .select(F.md5("p")).distinct().count())
    assert sum(r["n_kept"] for r in out) == distinct_passages


@given(st.lists(st.tuples(st.sampled_from(["d1", "d2", "d3"]),
                          st.sampled_from(["a", "b", "c", "d"])),
                min_size=4, max_size=60))
@settings(max_examples=12, deadline=None)
def test_drift_js_and_tv_bounds(spark, rows):
    """JS in [0, ln 2], TV in [0, 1], for any slice/bucket data."""
    import math
    from handyspark_spark.pipeline.drift import drift_report
    df = spark.createDataFrame(rows, ["day", "etype"])
    for r in drift_report(df, "day", "etype").collect():
        assert -1e-9 <= r["js_divergence"] <= math.log(2) + 1e-6
        assert -1e-9 <= r["tv_distance"] <= 1.0 + 1e-9


@given(n_centroids=st.sampled_from([2, 4, 8]),
       m=st.sampled_from([4, 8, 16]),
       nbits=st.sampled_from([2, 3, 4]),
       nprobe=st.integers(min_value=1, max_value=4))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ivfpq_invariants_across_configs(spark, n_centroids, m, nbits,
                                         nprobe):
    """IVF-PQ structural invariants for arbitrary (cells, m, nbits,
    nprobe): pure-ADC results only ever come from PROBED cells, a query
    never returns itself, ranks are 1..k dense per query, and the
    encoded-corpus path is row-identical to the direct path."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.similarity import (ivfpq_encode,
                                                      ivfpq_fit,
                                                      ivfpq_topk)
    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 3)
    C, books = ivfpq_fit(df, n_centroids=n_centroids, m=m, nbits=nbits,
                         sample_n=64)
    out = ivfpq_topk(df, qs, k=4, nprobe=nprobe, centroids=C,
                     books=books).collect()
    # probed-cells-only: recompute each query's probe set driver-side
    enc = {r["vec_id"]: r["cell"]
           for r in ivfpq_encode(df, C, books).select("vec_id",
                                                      "cell").collect()}
    Q = np.array([r["embedding"] for r in qs.orderBy("vec_id").collect()])
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    ct = Q @ C.T
    probe = {qid: set(np.argsort(-ct[i])[:min(nprobe, n_centroids)]
                      .tolist())
             for i, qid in enumerate(sorted(
                 r["vec_id"] for r in qs.collect()))}
    per_q: dict = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        assert enc[r["neighbor_id"]] in probe[r["query_id"]]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # encoded-corpus path == direct path, row for row
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in out}
    enc_df = ivfpq_encode(df, C, books)
    out2 = ivfpq_topk(df, qs, k=4, nprobe=nprobe, centroids=C,
                      books=books, encoded=enc_df).collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in out2} == got


# ---------------------------------------------------------------------------
# HandyStrata dispatch/recombination fuzz (SURVEY §7 risk 1): random
# strata composition/order/NULL-keys/ops vs pandas groupby. Reference
# behavior being mirrored: tests/handyspark/sql/test_dataframe.py:135-139
# (stratified agg) and 284-289 (stratified value_counts).
# ---------------------------------------------------------------------------

_STRATA_OPS = ["mean", "min", "max", "count", "stddev", "median",
               "nunique"]


def _norm_key(k):
    """Stratum label normalization: engine uses None/NaN for NULL keys
    depending on index arity; pandas groupby(dropna=False) uses NaN."""
    if k is None:
        return "∅"
    if isinstance(k, float) and np.isnan(k):
        return "∅"
    return k


def _norm_idx(idx):
    return tuple(_norm_key(k) for k in idx) if isinstance(idx, tuple) \
        else (_norm_key(idx),)


@given(data=st.data())
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_stratified_agg_fuzz_matches_pandas_groupby(spark, data):
    """Randomized strata types/order/NULL-buckets/op against pandas
    groupby(dropna=False): the engine keeps NULL strata as their own
    bucket and runs every ``@agg`` op as ONE grouped job — results per
    (stratum-combo) must equal pandas exactly (median exact=True is
    type-7 interpolation on both sides; values are NaN-free because
    plain Spark aggs keep native NaN propagation by documented
    contract)."""
    n = data.draw(st.integers(min_value=12, max_value=48), label="n")
    c1 = data.draw(st.lists(st.sampled_from(["a", "b", "c", None]),
                            min_size=n, max_size=n), label="c1")
    c2 = data.draw(st.lists(st.sampled_from(["x", "y", None]),
                            min_size=n, max_size=n), label="c2")
    vals = data.draw(st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False),
        min_size=n, max_size=n), label="vals")
    strata = data.draw(st.sampled_from(
        [["c1"], ["c2"], ["c1", "c2"], ["c2", "c1"]]), label="strata")
    op = data.draw(st.sampled_from(_STRATA_OPS), label="op")

    pdf = pd.DataFrame({"c1": c1, "c2": c2,
                        "v": [round(v, 6) for v in vals]})
    sdf = spark.createDataFrame(pdf, "c1 string, c2 string, v double")
    col = toHandy(sdf).stratify(list(strata)).cols["v"]
    if op == "median":
        got = col.median(exact=True)
    elif op == "nunique":
        got = col.nunique(exact=True)
    else:
        got = getattr(col, op)()

    g = pdf.groupby(strata, dropna=False)["v"]
    want = {"mean": g.mean, "min": g.min, "max": g.max, "count": g.count,
            "stddev": g.std, "median": g.median, "nunique": g.nunique
            }[op]()

    got_d = {_norm_idx(k): v for k, v in got.items()}
    want_d = {_norm_idx(k): v for k, v in want.items()}
    assert set(got_d) == set(want_d), (strata, op)
    for k in want_d:
        a, b = got_d[k], want_d[k]
        if pd.isna(b):
            assert a is None or pd.isna(a), (k, op, a, b)
        else:
            assert abs(float(a) - float(b)) < 1e-6, (k, op, a, b)


@given(data=st.data())
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_stratified_value_counts_and_mode_fuzz(spark, data):
    """Random categorical strata + counted column with NULL keys:
    stratified value_counts equals pandas groupby.value_counts
    (dropna on the VALUE, NULL strata kept), and mode equals pandas'
    min-tie-break mode per stratum."""
    n = data.draw(st.integers(min_value=10, max_value=40), label="n")
    key = data.draw(st.lists(st.sampled_from(["g1", "g2", None]),
                             min_size=n, max_size=n), label="key")
    val = data.draw(st.lists(st.sampled_from(["u", "v", "w", None]),
                             min_size=n, max_size=n), label="val")
    pdf = pd.DataFrame({"k": key, "c": val})
    sdf = spark.createDataFrame(pdf, "k string, c string")
    strata_col = toHandy(sdf).stratify(["k"]).cols["c"]

    got_vc = {( _norm_key(k), v): int(c) for (k, v), c in
              strata_col.value_counts().items()}
    want_vc = {(_norm_key(k), v): int(c) for (k, v), c in
               pdf.groupby("k", dropna=False)["c"]
               .value_counts(dropna=True).items()}
    assert got_vc == want_vc

    # mode only over strata that have at least one non-null value
    has_val = pdf.dropna(subset=["c"]).groupby("k", dropna=False)["c"]
    want_mode = {(_norm_key(k),): s.mode().min()
                 for k, s in has_val}
    got_mode = {_norm_idx(k): v for k, v in strata_col.mode().items()}
    for k in want_mode:
        assert got_mode.get(k) == want_mode[k], k


@given(data=st.data())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_bucket_strata_fuzz_matches_closed_form(spark, data):
    """Random Bucket/Quantile strata (random bins), optionally combined
    with a categorical stratum in either order: per-stratum means must
    match pandas grouping on the closed-form bucket ids (equal-width:
    linspace edges, last bin right-closed; quantile: checked by
    partition invariants — every row lands in exactly one bucket and
    bucket count <= bins)."""
    from handyspark_spark import Bucket, Quantile
    n = data.draw(st.integers(min_value=15, max_value=45), label="n")
    bvals = data.draw(st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False,
                  allow_infinity=False),
        min_size=n, max_size=n), label="bvals")
    assume(max(bvals) > min(bvals))          # zero-width grid undefined
    bins = data.draw(st.integers(min_value=2, max_value=5), label="bins")
    cat = data.draw(st.lists(st.sampled_from(["p", "q"]),
                             min_size=n, max_size=n), label="cat")
    vals = data.draw(st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False,
                  allow_infinity=False),
        min_size=n, max_size=n), label="vals")
    kind = data.draw(st.sampled_from(["bucket", "quantile"]), label="kind")
    shape = data.draw(st.sampled_from(["solo", "cat_first", "cat_last"]),
                      label="shape")

    pdf = pd.DataFrame({"b": [round(v, 6) for v in bvals], "g": cat,
                        "v": [round(v, 6) for v in vals]})
    sdf = spark.createDataFrame(pdf, "b double, g string, v double")
    stratum = (Bucket("b", bins) if kind == "bucket"
               else Quantile("b", bins))
    strata = {"solo": [stratum], "cat_first": ["g", stratum],
              "cat_last": [stratum, "g"]}[shape]
    got = toHandy(sdf).stratify(strata).cols["v"].mean()

    # totals invariant: weighted recombination loses no rows
    cnt = toHandy(sdf).stratify(strata).cols["v"].count()
    assert int(cnt.sum()) == n
    n_bucket_labels = len({k[strata.index(stratum)]
                           if isinstance(k, tuple) else k
                           for k in cnt.index})
    assert n_bucket_labels <= bins

    if kind == "bucket":
        lo, hi = pdf["b"].min(), pdf["b"].max()
        w = (hi - lo) / bins
        if w == 0:
            # collapsed range (rounding can defeat the assume above):
            # contract is "every row in bucket 0"
            ids = np.zeros(len(pdf))
        else:
            ids = np.minimum(np.floor((pdf["b"] - lo) / w), bins - 1)
        keys = {"solo": [ids], "cat_first": ["g", ids],
                "cat_last": [ids, "g"]}[shape]
        want = pdf.groupby(keys)["v"].mean()
        # compare RAW means (same doubles, both engines sum/divide —
        # agreement is machine-precision). The old form rounded both
        # sides to 6dp first, so raw values straddling a rounding
        # boundary compared exactly 1e-6 apart and flaked against the
        # abs=1e-6 gate.
        assert sorted(got.dropna().values) == pytest.approx(
            sorted(want.dropna().values), rel=1e-9, abs=1e-9)


@given(data=st.data())
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ordered_window_ops_fuzz_match_pandas(spark, data):
    """Random (partition, unique order, values with missing) frames:
    the ordered-window family must equal pandas groupby semantics at
    every NON-MISSING input position (the pinned convention: Spark's
    null-skipping aggregation equals pandas skipna accumulation away
    from the NaN positions themselves), and ffill/bfill/interpolate/
    rolling must match everywhere. rank runs on a separate non-null
    column (pandas keeps NaN unranked; Spark windows sort nulls —
    documented difference, not fuzzed)."""
    n = data.draw(st.integers(min_value=6, max_value=40), label="n")
    part = data.draw(st.lists(st.sampled_from(["p", "q"]),
                              min_size=n, max_size=n), label="part")
    order = data.draw(st.lists(st.integers(min_value=-1000,
                                           max_value=1000),
                               min_size=n, max_size=n, unique=True),
                      label="order")
    vals = data.draw(st.lists(
        st.one_of(st.none(),
                  st.floats(min_value=-1e4, max_value=1e4,
                            allow_nan=False, allow_infinity=False)),
        min_size=n, max_size=n), label="vals")
    rvals = data.draw(st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        min_size=n, max_size=n), label="rvals")
    win = data.draw(st.integers(min_value=1, max_value=5), label="win")
    method = data.draw(st.sampled_from(["min", "dense", "first"]),
                       label="method")
    asc = data.draw(st.booleans(), label="asc")

    pdf = pd.DataFrame({"p": part, "o": order,
                        "v": [round(v, 6) if v is not None else None
                              for v in vals],
                        "r": [round(v, 6) for v in rvals]})
    sdf = spark.createDataFrame(
        pdf, "p string, o long, v double, r double")
    h = toHandy(sdf)
    s = h.ordered(by="o", partition="p")["v"]
    sr = h.ordered(by="o", partition="p")["r"]
    out = (h.assign(cumsum=s.cumsum(), cummax=s.cummax(),
                    shift=s.shift(1), diff=s.diff(1),
                    ffill=s.ffill(), bfill=s.bfill(),
                    interp=s.interpolate(),
                    roll=s.rolling_mean(win),
                    rnk=sr.rank(method=method, ascending=asc))
           ._df.toPandas().sort_values(["p", "o"]).reset_index(drop=True))

    g = pdf.sort_values(["p", "o"]).reset_index(drop=True)
    gb = g.groupby("p")["v"]
    exp = pd.DataFrame({
        "cumsum": gb.cumsum(), "cummax": gb.cummax(),
        "shift": gb.shift(1), "diff": gb.diff(1),
        "ffill": gb.ffill(), "bfill": gb.bfill(),
        "interp": gb.apply(lambda x: x.interpolate())
                    .reset_index(level=0, drop=True).sort_index(),
        "roll": g.groupby("p")["v"]
                 .rolling(win, min_periods=1).mean()
                 .reset_index(level=0, drop=True).sort_index(),
        "rnk": g.groupby("p")["r"].rank(method=method, ascending=asc),
    })
    known = g["v"].notna()
    for col in ["cumsum", "cummax", "shift", "diff"]:
        a = out.loc[known, col].astype(float)
        b = exp.loc[known, col].astype(float)
        assert np.allclose(a.fillna(1e18), b.fillna(1e18),
                           atol=1e-6), col
    for col in ["ffill", "bfill", "interp", "roll"]:
        a = out[col].astype(float)
        b = exp[col].astype(float)
        assert np.allclose(a.fillna(1e18), b.fillna(1e18),
                           atol=1e-6), col
    assert np.allclose(out["rnk"].astype(float),
                       exp["rnk"].astype(float)), "rank"


@given(data=st.data())
@settings(**SETTINGS)
def test_lsh_pairs_emit_once_equals_distinct_fuzz(spark, lsh_pairs_ref,
                                                  data):
    """Emit-once LSH pair stream == a DISTINCT bucket self-join on random
    corpora across random (num_hashes, bands, cap) — including caps
    small enough that first-collision buckets get dropped and the
    masked band hashes have to rescue pairs."""
    from handyspark_spark.pipeline.dedup import minhash_lsh_pairs
    bands = data.draw(st.sampled_from([2, 4, 8]), label="bands")
    num_hashes = bands * data.draw(st.integers(1, 3), label="rpb")
    cap = data.draw(st.sampled_from([None, 2, 5, 20]), label="cap")
    n_docs = data.draw(st.integers(4, 25), label="n_docs")
    vocab = [f"t{i}" for i in range(12)]
    rows = []
    for i in range(n_docs):
        k = data.draw(st.integers(1, 6), label=f"len{i}")
        toks = data.draw(st.lists(st.sampled_from(vocab), min_size=k,
                                  max_size=k), label=f"doc{i}")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["doc_id", "text"]))
    got = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(df, num_hashes=num_hashes, bands=bands,
                             max_bucket_size=cap).collect()}
    assert got == lsh_pairs_ref(df, num_hashes, bands, cap)


@given(values=st.lists(st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.sampled_from([0.0, 1.0, 2.5]),                 # heavy ties
    st.none(), st.just(float("nan"))), max_size=60))
@settings(**SETTINGS)
def test_exact_quantiles_match_numpy_with_missing(spark, values):
    """Exact quantiles skip NULL and NaN and match numpy type-7 on the
    remaining values, endpoints included; with none left the named
    error is raised."""
    from handyspark_spark.core.util import HandyException
    from handyspark_spark.operators.agg import exact_quantiles_distributed
    qs = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    df = spark.createDataFrame([(v,) for v in values], "v double")
    kept = [v for v in values if v is not None and v == v]
    if not kept:
        with pytest.raises(HandyException, match="column 'v'"):
            exact_quantiles_distributed(df, {"v": qs})
        return
    got = exact_quantiles_distributed(df, {"v": qs})["v"]
    for q in qs:
        assert got[q] == pytest.approx(float(np.quantile(kept, q)),
                                       rel=1e-9, abs=1e-9)
