"""Event-time windowing: batch == streaming plan symmetry, session
equivalence, as-of join, multimodal plumbing."""
import numpy.testing as npt
import pytest
from pyspark.sql import functions as F


def test_tumbling_totals(tables, pdf_tables):
    from handyspark_spark.streaming.windows import tumbling
    out = tumbling(tables["events"], "ts", "1 hour").toPandas()
    assert out["cnt"].sum() == len(pdf_tables["events"])
    # epoch-aligned hour boundaries
    assert (out["window_start"].dt.minute == 0).all()


def test_sliding_covers_each_event_twice(tables, pdf_tables):
    from handyspark_spark.streaming.windows import sliding
    out = sliding(tables["events"], "ts", "2 hours", "1 hour").toPandas()
    assert out["cnt"].sum() == 2 * len(pdf_tables["events"])


def test_session_window_equals_gaps_and_islands(tables):
    """Native F.session_window must produce the same number of sessions
    per user as the explicit lag+cumsum sessionization."""
    from handyspark_spark.streaming.windows import session, session_counts
    a = (session(tables["events"], "ts", "30 minutes",
                 group_cols=["user_id"])
         .groupBy("user_id").count().toPandas()
         .set_index("user_id")["count"].sort_index())
    b = (session_counts(tables["events"], "ts", "user_id", 1800)
         .toPandas().set_index("user_id")["n_sessions"].sort_index())
    npt.assert_array_equal(a.values, b.values)


def test_streaming_plan_runs(tables, spark, tmp_path):
    """The SAME tumbling builder must run as a real Structured Streaming
    query (memory sink) — batch/stream symmetry is the design contract."""
    import os
    import shutil

    from handyspark_spark.streaming.windows import (tumbling,
                                                    with_watermark)
    src_dir = str(tmp_path / "events_stream")
    os.makedirs(src_dir)
    # stage the batch parquet as a streaming source dir
    tables["events"].limit(2000).write.mode("overwrite").parquet(src_dir)
    schema = tables["events"].schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src_dir))
    agg = tumbling(with_watermark(stream, "ts", "2 hours"), "ts", "1 hour",
                   group_cols=["event_type"])
    q = (agg.writeStream.format("memory").queryName("t_sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append-mode emits only watermark-closed windows; plan ran end-to-end
    assert spark.sql("SELECT count(*) FROM t_sessions").collect()[0][0] >= 0
    shutil.rmtree(src_dir, ignore_errors=True)


def test_asof_join_backward(tables, ddb):
    from handyspark_spark.operators.asof import asof_join
    events = tables["events"].select("event_id", "user_id", "ts")
    right = (tables["orders"].groupBy("o_custkey", "o_orderdate")
             .agg(F.max("o_orderkey").alias("ref_order")))
    got = (asof_join(events, right, on="ts", by="user_id",
                     right_on="o_orderdate", right_by="o_custkey")
           .select("event_id", "ref_order").toPandas()
           .set_index("event_id")["ref_order"].sort_index())
    exp = ddb.sql("""
        WITH r AS (SELECT o_custkey, o_orderdate,
                          MAX(o_orderkey) AS ref_order
                   FROM orders GROUP BY 1, 2)
        SELECT e.event_id, r.ref_order
        FROM events e ASOF LEFT JOIN r
          ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """).df().set_index("event_id")["ref_order"].sort_index()
    npt.assert_array_equal(got.fillna(-1).values, exp.fillna(-1).values)


def test_asof_join_forward(spark):
    from handyspark_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 5.0), (1, 11.0), (2, 3.0)], "k int, t double")
    right = spark.createDataFrame(
        [(1, 6.0, "a"), (1, 10.0, "b"), (2, 1.0, "c")],
        "k int, t double, v string")
    out = {(r.k, r.t): r.v for r in
           asof_join(left, right, on="t", by="k",
                     direction="forward").collect()}
    assert out[(1, 5.0)] == "a"
    assert out[(1, 11.0)] is None
    assert out[(2, 3.0)] is None


def test_media_features_batch_shape(tables):
    from handyspark_spark.pipeline.multimodal import (attach_fake_media,
                                                      media_features)
    media = attach_fake_media(tables["documents"], "doc_id", "text")
    out = media_features(media, n_features=8).toPandas()
    assert len(out) == tables["documents"].count()
    assert out["features"].map(len).eq(8).all()
    # deterministic: same bytes -> same features
    out2 = media_features(media, n_features=8).toPandas()
    npt.assert_array_equal(
        out.sort_values("media_id")["sha256"].values,
        out2.sort_values("media_id")["sha256"].values)


def test_media_decode_stub_raises(tables):
    from handyspark_spark.pipeline.multimodal import (attach_fake_media,
                                                      media_features)
    media = attach_fake_media(tables["documents"], "doc_id", "text")
    with pytest.raises(Exception):
        media_features(media, fake=False).collect()


def test_media_decode_output_contract(tables):
    """Pin the decode-layer contracts so a real-codec environment can
    swap the stub without API change: _decode returns a float32 pixel
    block; media_features' Spark schema is exact; byte_len matches the
    payload; resize updates only width/height in meta."""
    import numpy as np
    from pyspark.sql import types as T

    from handyspark_spark.pipeline.multimodal import (MEDIA_SCHEMA, _decode,
                                                      attach_fake_media,
                                                      media_features,
                                                      resize_images)
    # decoder contract: 2-D float32 array, deterministic, empty-safe
    px = _decode(b"payload", None, fake=True)
    assert px.dtype == np.float32 and px.ndim == 2 and px.shape == (8, 8)
    npt.assert_array_equal(px, _decode(b"payload", None, fake=True))
    assert _decode(b"", None, fake=True).shape == (8, 8)
    assert _decode(None, None, fake=True).shape == (8, 8)
    with pytest.raises(NotImplementedError):
        _decode(b"payload", None, fake=False)

    def shape(schema):   # nullability is construction detail, not contract
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    media = attach_fake_media(tables["documents"].limit(50), "doc_id",
                              "text")
    assert shape(media.schema) == shape(MEDIA_SCHEMA)
    feats = media_features(media, n_features=4)
    assert shape(feats.schema) == shape(T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]))
    out = feats.toPandas().set_index("media_id")
    docs = (tables["documents"].limit(50)
            .select("doc_id", F.octet_length(F.col("text")).alias("bl"))
            .toPandas().set_index("doc_id"))
    npt.assert_array_equal(out["byte_len"].sort_index().values,
                           docs["bl"].sort_index().values)

    # resize: meta width/height change, everything else preserved
    resized = resize_images(media, 64, 48)
    assert shape(resized.schema) == shape(MEDIA_SCHEMA)
    r = resized.select("meta.*", "data").limit(1).collect()[0]
    o = media.select("meta.*", "data").limit(1).collect()[0]
    assert (r["width"], r["height"]) == (64, 48)
    assert (r["kind"], r["format"], r["n_frames"], r["sample_rate"]) == \
           (o["kind"], o["format"], o["n_frames"], o["sample_rate"])
    assert bytes(r["data"]) == bytes(o["data"])
    # fake=False on a raw (non-BMP, non-image) payload fails at
    # execution: either "needs Pillow" (bare env) or an unidentified-
    # image decode error (codec-bearing env) — never a silent fake
    with pytest.raises(Exception):
        resize_images(media, 64, 48, fake=False).collect()


def test_frame_sampling(tables):
    from handyspark_spark.pipeline.multimodal import (attach_fake_media,
                                                      sample_frames)
    media = attach_fake_media(tables["documents"].limit(10), "doc_id",
                              "text", kind="video")
    out = sample_frames(media, every_n=1).toPandas()
    assert set(out.columns) == {"media_id", "frame_idx", "frame_bytes"}
    assert len(out) == 10  # n_frames=1 in fake meta


def test_ordered_series_vs_pandas(tables, pdf_tables):
    from handyspark_spark import toHandy
    hdf = toHandy(tables["orders"])
    s = hdf.ordered(by=["o_orderdate", "o_orderkey"],
                    partition="o_custkey")["o_totalprice"]
    got = (hdf.assign(cs=s.cumsum(), d=s.diff(), ff=s.shift(1))
           .select("o_orderkey", "cs", "d", "ff").toPandas()
           .set_index("o_orderkey").sort_index())
    pdf = (pdf_tables["orders"]
           .sort_values(["o_orderdate", "o_orderkey"]))
    g = pdf.groupby("o_custkey")["o_totalprice"]
    exp = pdf.assign(cs=g.cumsum(), d=g.diff(),
                     ff=g.shift(1)).set_index("o_orderkey").sort_index()
    npt.assert_array_almost_equal(got["cs"], exp["cs"])
    npt.assert_array_almost_equal(got["d"].fillna(-1), exp["d"].fillna(-1))
    npt.assert_array_almost_equal(got["ff"].fillna(-1),
                                  exp["ff"].fillna(-1))


def test_ordered_rank_and_ffill(spark):
    from handyspark_spark import toHandy
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, None), (1, 3, 30.0), (1, 4, None),
         (2, 1, 5.0), (2, 2, 5.0)],
        "k int, seq int, v double")
    hdf = toHandy(df)
    s = hdf.ordered(by="seq", partition="k")["v"]
    out = (hdf.assign(ff=s.ffill(), bf=s.bfill(),
                      rk=s.rank("average"))
           .orderBy("k", "seq").collect())
    assert [r.ff for r in out] == [10.0, 10.0, 30.0, 30.0, 5.0, 5.0]
    assert [r.bf for r in out] == [10.0, 30.0, 30.0, None, 5.0, 5.0]
    assert [r.rk for r in out[-2:]] == [1.5, 1.5]  # pandas average rank


def test_stateful_streaming_matches_batch(tables, spark, tmp_path):
    """applyInPandasWithState running aggregate: the LAST update emitted
    per key must equal the batch groupBy over the same rows."""
    import os

    from handyspark_spark.streaming.stateful import running_user_stats
    src_dir = str(tmp_path / "ev")
    os.makedirs(src_dir)
    # inject NaN values: both paths must EXCLUDE them from sum/max
    sample = (tables["events"].limit(3000)
              .withColumn("value",
                          F.when(F.col("event_id") % 7 == 0,
                                 F.lit(float("nan")))
                          .otherwise(F.col("value").cast("double"))))
    sample.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(tables["events"].schema)
              .option("maxFilesPerTrigger", 2).parquet(src_dir))
    q = (running_user_stats(stream).writeStream.format("memory")
         .queryName("t_state").outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = (spark.sql("""
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM t_state) WHERE rn = 1
    """).toPandas().set_index("user_id").sort_index())
    exp = (running_user_stats(sample).toPandas()
           .set_index("user_id").sort_index())
    import numpy.testing as npt
    npt.assert_array_equal(got["n_events"].values, exp["n_events"].values)
    npt.assert_array_almost_equal(got["sum_value"].values,
                                  exp["sum_value"].values)


def test_stream_dedup_matches_batch(tables, spark, tmp_path):
    """Streaming dedup (watermark-bounded state) must keep exactly one
    row per key, matching batch dropDuplicates key-set."""
    import os

    from handyspark_spark.streaming.windows import stream_dedup
    src = str(tmp_path / "dups")
    os.makedirs(src)
    base = tables["events"].selectExpr(
        "user_id % 20 AS k", "ts", "event_id").limit(1000)
    base.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(base.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (stream_dedup(stream, ["k"], "ts").writeStream
         .format("memory").queryName("t_dedup").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT k FROM t_dedup").toPandas()["k"]
    assert got.is_unique
    assert set(got) == {r.k for r in base.select("k").distinct().collect()}
    # batch fallback
    assert stream_dedup(base, ["k"], "ts").count() == got.nunique()


def test_interpolate_matches_pandas(spark):
    import pandas as pd

    from handyspark_spark import toHandy
    pdf = pd.DataFrame({
        "k": [1] * 8 + [2] * 4,
        "seq": list(range(8)) + list(range(4)),
        "v": [None, 10.0, None, None, 16.0, None, 20.0, None,
              None, 5.0, 7.0, None]})
    hdf = toHandy(spark.createDataFrame(pdf))
    s = hdf.ordered(by="seq", partition="k")["v"]
    got = (hdf.assign(i=s.interpolate()).orderBy("k", "seq")
           .select("k", "seq", "i").toPandas())
    exp = (pdf.sort_values(["k", "seq"])
           .groupby("k")["v"].apply(lambda g: g.interpolate())
           .reset_index(drop=True))
    import numpy.testing as npt
    npt.assert_array_almost_equal(got["i"].fillna(-999),
                                  exp.fillna(-999))


def test_cumprod_rolling(spark):
    import numpy.testing as npt
    import pandas as pd

    from handyspark_spark import toHandy
    pdf = pd.DataFrame({"k": [1] * 6, "seq": range(6),
                        "v": [2.0, -3.0, 0.5, 0.0, 4.0, -1.0]})
    hdf = toHandy(spark.createDataFrame(pdf))
    s = hdf.ordered(by="seq", partition="k")["v"]
    got = (hdf.assign(cp=s.cumprod(), cm=s.cummax(),
                      rmin=s.rolling_min(2), rmax=s.rolling_max(2))
           .orderBy("seq").toPandas())
    npt.assert_array_almost_equal(got["cp"], pdf["v"].cumprod())
    npt.assert_array_almost_equal(got["cm"], pdf["v"].cummax())
    npt.assert_array_almost_equal(got["rmin"],
                                  pdf["v"].rolling(2, min_periods=1).min())
    npt.assert_array_almost_equal(got["rmax"],
                                  pdf["v"].rolling(2, min_periods=1).max())


def test_time_based_rolling_vs_pandas(tables, pdf_tables):
    import numpy.testing as npt

    from handyspark_spark import toHandy
    hdf = toHandy(tables["events"])
    s = hdf.ordered(by="ts", partition="user_id")["value"]
    got = (hdf.assign(r=s.rolling_mean_time(3600))
           .select("event_id", "r").toPandas()
           .set_index("event_id").sort_index())
    pdf = pdf_tables["events"].sort_values("ts")
    exp = (pdf.set_index("ts").groupby("user_id")["value"]
           .apply(lambda g: g.rolling("3600s").mean())
           .reset_index())
    exp = (pdf.merge(exp, on=["user_id", "ts"], suffixes=("", "_r"))
           .set_index("event_id")["value_r"].sort_index())
    npt.assert_array_almost_equal(got["r"].values, exp.values)


def test_ffill_preserves_literal_nan_string(spark):
    """The string value 'NaN' is DATA in a string column, not missing."""
    from handyspark_spark import toHandy
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "NaN"), (1, 3, None), (1, 4, "b")],
        "k int, s int, v string")
    h = toHandy(df)
    out = [r.f for r in h.assign(
        f=h.ordered(by="s", partition="k")["v"].ffill())
        .orderBy("s").collect()]
    assert out == ["a", "NaN", "NaN", "b"]


def test_rolling_time_skips_nan(spark):
    from pyspark.sql import functions as F

    from handyspark_spark import toHandy
    df = spark.createDataFrame(
        [(1, 0.0), (1, 10.0), (1, 20.0)], "k int, t double") \
        .select("k", F.timestamp_seconds("t").alias("ts"),
                F.when(F.col("t") == 10.0, float("nan"))
                 .otherwise(F.col("t")).alias("v"))
    h = toHandy(df)
    s = h.ordered(by="ts", partition="k")["v"]
    out = [r.m for r in h.assign(m=s.rolling_mean_time(3600))
           .orderBy("ts").collect()]
    assert out == [0.0, 0.0, 10.0]   # NaN skipped, like pandas


def test_range_join_matches_naive_and_no_nested_loop(tables, spark):
    """Bucketized range join == naive inequality join result, WITHOUT
    the BroadcastNestedLoopJoin the naive form compiles to."""
    from handyspark_spark.core.util import explain_str
    from handyspark_spark.operators.rangejoin import range_join
    o = tables["orders"].select("o_orderkey", "o_orderdate").limit(3000)
    iv = (o.filter(F.col("o_orderkey") % 11 == 0)
          .select(F.col("o_orderkey").alias("iv_key"),
                  F.col("o_orderdate").alias("lo"),
                  (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"))
                  .alias("hi")))
    got = range_join(o, iv, "o_orderdate", "lo", "hi", bucket=2 * 86400.0)
    naive = o.join(iv, (F.col("o_orderdate") >= F.col("lo")) &
                       (F.col("o_orderdate") <= F.col("hi")))
    key = lambda r: (r.o_orderkey, r.iv_key)
    assert sorted(map(key, got.collect())) == \
           sorted(map(key, naive.collect()))
    plan = explain_str(got)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in explain_str(naive)  # the foil


def test_range_join_left_keeps_unmatched(spark):
    from handyspark_spark.operators.rangejoin import range_join
    pts = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id long, p double")
    iv = spark.createDataFrame([(10, 0.0, 10.0)],
                               "iv long, lo double, hi double")
    out = range_join(pts, iv, "p", "lo", "hi", bucket=5.0, how="left")
    rows = {r.id: r.iv for r in out.collect()}
    assert rows == {1: 10, 2: None}


def test_range_join_extra_on_and_boundaries(spark):
    """Inclusive boundaries; extra equality key restricts matches; a
    point matches exactly once even when the interval spans many
    buckets."""
    from handyspark_spark.operators.rangejoin import range_join
    pts = spark.createDataFrame(
        [(1, "a", 0.0), (2, "a", 10.0), (3, "b", 5.0)],
        "id long, k string, p double")
    iv = spark.createDataFrame(
        [(7, "a", 0.0, 10.0)], "iv long, k string, lo double, hi double")
    out = range_join(pts, iv, "p", "lo", "hi", bucket=1.0, extra_on=["k"])
    assert sorted((r.id, r.iv) for r in out.collect()) == [(1, 7), (2, 7)]


def test_stream_join_streaming_matches_batch(tables, spark, tmp_path):
    """Stream-stream time-band join: the streaming result (both sides
    streamed, watermarks attached, band in the join condition) must equal
    the batch join of the same frames."""
    import os

    from handyspark_spark.streaming.windows import stream_join
    ev = tables["events"].limit(2000)
    left = ev.filter(F.col("event_type") == "click") \
             .select(F.col("user_id").alias("uid"), "ts", "event_id")
    right = ev.filter(F.col("event_type") == "view") \
              .select(F.col("user_id").alias("uid"), "ts",
                      F.col("value").alias("v"))
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(ldir); os.makedirs(rdir)
    left.write.mode("overwrite").parquet(ldir)
    right.write.mode("overwrite").parquet(rdir)

    exp = stream_join(left, right, ["uid"], "ts", "ts",
                      tolerance="10 minutes")
    exp_rows = {(r.uid, r.event_id, r.ts_r) for r in exp.collect()}
    assert exp_rows, "fixture should produce matches"

    ls = (spark.readStream.schema(left.schema)
          .option("maxFilesPerTrigger", 2).parquet(ldir))
    rs = (spark.readStream.schema(right.schema)
          .option("maxFilesPerTrigger", 2).parquet(rdir))
    q = (stream_join(ls, rs, ["uid"], "ts", "ts",
                     tolerance="10 minutes",
                     watermark_delay="0 seconds").writeStream
         .format("memory").queryName("t_sj").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_sj"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got_rows = {(r.uid, r.event_id, r.ts_r)
                for r in spark.sql("SELECT * FROM t_sj").collect()}
    assert got_rows == exp_rows


def test_stream_join_outer_batch(tables, spark):
    """left_outer keeps unmatched left rows with NULL right columns and
    one coalesced key column."""
    from handyspark_spark.streaming.windows import stream_join
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"),
         (2, "2024-01-01 10:00:00", "b")],
        "k int, ts string, s string").withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 5.0),
         (1, "2024-01-01 23:00:00", 7.0)],
        "k int, ts string, v double").withColumn("ts", F.to_timestamp("ts"))
    out = stream_join(left, right, ["k"], "ts", "ts",
                      tolerance="1 hour", how="left_outer")
    rows = {(r.k, r.s, r.v) for r in out.collect()}
    assert rows == {(1, "a", 5.0), (2, "b", None)}
    assert out.columns.count("k") == 1


def test_funnel_counts_matches_python(spark):
    """Funnel ordering + conversion window vs a literal python loop."""
    import pandas as pd

    from handyspark_spark.streaming.windows import funnel_counts
    rows = [
        # u1 completes in order within window
        (1, "a", "2024-01-01 10:00:00"), (1, "b", "2024-01-01 10:05:00"),
        (1, "c", "2024-01-01 10:10:00"),
        # u2: b BEFORE a -> stops at a
        (2, "b", "2024-01-01 09:00:00"), (2, "a", "2024-01-01 10:00:00"),
        # u3: completes a->b but c outside the window
        (3, "a", "2024-01-01 10:00:00"), (3, "b", "2024-01-01 10:30:00"),
        (3, "c", "2024-01-03 10:00:00"),
        # u4 never does a
        (4, "b", "2024-01-01 10:00:00"), (4, "c", "2024-01-01 11:00:00"),
    ]
    df = (spark.createDataFrame(rows, "user_id int, event_type string, ts string")
          .withColumn("ts", F.to_timestamp("ts")))
    got = {r.step_name: r.n_users for r in
           funnel_counts(df, ["a", "b", "c"], within="1 day").collect()}
    assert got == {"a": 3, "b": 2, "c": 1}
    # no window: u3 converts too
    got2 = {r.step_name: r.n_users for r in
            funnel_counts(df, ["a", "b", "c"]).collect()}
    assert got2 == {"a": 3, "b": 2, "c": 2}


def test_maintain_state_table_matches_batch(spark, tables, tmp_path):
    """foreachBatch incremental state maintenance: after draining the
    stream (multiple micro-batches), the finalized state table equals
    the direct batch aggregation over the same data."""
    import os

    from pyspark.sql import functions as F

    from handyspark_spark.operators.incremental import finalize_state
    from handyspark_spark.streaming.stateful import maintain_state_table
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    ev = tables["events"].limit(3000).select("user_id", "value")
    ev.repartition(6).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    state = str(tmp_path / "state")
    q = maintain_state_table(stream, state, ["user_id"], "value",
                             checkpoint_path=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = {r.user_id: r.asDict() for r in
           finalize_state(spark.read.parquet(state),
                          ["user_id"]).collect()}
    exp = {r.user_id: r.asDict() for r in
           (ev.groupBy("user_id")
            .agg(F.count("value").alias("n"),
                 F.round(F.sum("value"), 6).alias("total"),
                 F.round(F.avg("value"), 6).alias("mean"),
                 F.round(F.stddev("value"), 6).alias("std"),
                 F.min("value").alias("min"),
                 F.max("value").alias("max"))).collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k]["n"] == exp[k]["n"]
        for f in ("total", "mean", "min", "max"):
            assert abs(got[k][f] - exp[k][f]) < 1e-4, (k, f)


def test_maintain_cms_sketch_matches_batch_build(spark, tables, tmp_path):
    """Incremental streamed sketch == one-shot batch sketch (additive
    merge), and estimates from it match exact counts at low collision."""
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import (cms_build,
                                                   cms_estimate)
    from handyspark_spark.streaming.stateful import maintain_cms_sketch
    toks = tables["documents"].select(
        F.explode(F.split("text", " ")).alias("tok"))
    src = str(tmp_path / "toks")
    toks.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("tok string")
              .option("maxFilesPerTrigger", "2").parquet(src))
    state = str(tmp_path / "cms_state")
    q = maintain_cms_sketch(stream, "tok", state,
                            str(tmp_path / "ckpt"), width=4096, depth=3)
    q.awaitTermination(120)
    streamed = {(r["d"], r["w_idx"]): r["cnt"] for r in
                spark.read.parquet(state).collect()}
    whole = {(r["d"], r["w_idx"]): r["cnt"] for r in
             cms_build(toks, "tok", 4096, 3).collect()}
    assert streamed == whole
    truth = {r["tok"]: r["n"] for r in
             toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    est = {r["tok"]: r["est"] for r in
           cms_estimate(toks.select("tok").distinct(), "tok",
                        spark.read.parquet(state), 4096, 3).collect()}
    assert all(est[t] >= truth[t] for t in truth)


def test_read_state_distinguishes_missing_from_broken(spark, tmp_path):
    """Missing state path -> first batch (None); an EXISTING but
    unreadable path propagates instead of silently resetting counts."""
    import pytest
    from handyspark_spark.streaming.stateful import _read_state
    assert _read_state(spark, str(tmp_path / "nope")) is None
    broken = tmp_path / "state"
    broken.mkdir()
    (broken / "part-00000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        _read_state(spark, str(broken)).collect()


def test_state_commit_exactly_once_and_crash_recovery(spark, tmp_path):
    """Exactly-once at the state-table level: a replayed batch id is
    skipped; a crash between the two commit renames restores the
    pre-batch state instead of silently restarting from empty."""
    import os

    from handyspark_spark.streaming.stateful import (_commit_state,
                                                     _last_batch_id,
                                                     _read_state,
                                                     _replayed)
    state = str(tmp_path / "st")
    assert _replayed(state, 0) is False          # never initialized
    _commit_state(spark.createDataFrame([(1, 10)], "k int, v int"),
                  state, 0)
    assert _last_batch_id(state) == 0
    assert _replayed(state, 0) is True           # replay -> skip
    assert _replayed(state, 1) is False
    # the batch-id marker must be invisible to the parquet reader
    assert {r.k for r in _read_state(spark, state).collect()} == {1}
    _commit_state(spark.createDataFrame([(2, 20)], "k int, v int"),
                  state, 1)
    assert {r.k for r in _read_state(spark, state).collect()} == {2}
    # simulate a crash BETWEEN rename-aside and move-into-place: the
    # state dir is gone but the aside survives — _read_state restores it
    os.rename(state, state + "._prev")
    assert {r.k for r in _read_state(spark, state).collect()} == {2}
    assert _last_batch_id(state) == 1            # marker restored too


def test_maintain_state_replayed_batch_leaves_state_unchanged(
        spark, tables, tmp_path):
    """End-to-end crash-replay: drain a stream into a state table, then
    replay the SAME batches (fresh checkpoint -> batch ids restart at 0,
    all <= last committed). Every fold is skipped; state is unchanged —
    the exactly-once contract under foreachBatch's at-least-once
    delivery."""
    import os

    from handyspark_spark.streaming.stateful import maintain_state_table
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    ev = tables["events"].limit(1000).select("user_id", "value")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "state")

    def drain(ckpt):
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        q = maintain_state_table(stream, state, ["user_id"], "value",
                                 checkpoint_path=str(tmp_path / ckpt))
        q.awaitTermination(120)

    drain("ckpt1")
    before = sorted(map(tuple, spark.read.parquet(state).collect()))
    drain("ckpt2")                                # full replay
    after = sorted(map(tuple, spark.read.parquet(state).collect()))
    assert before == after


def test_codec_capabilities_gating(spark, tables):
    """Capability detection: the same API either lights up (codec
    present) or raises naming the missing capability — no silent fakes
    on the fake=False paths."""
    from handyspark_spark.pipeline.multimodal import (attach_fake_media,
                                                      codec_capabilities,
                                                      media_features,
                                                      resize_images,
                                                      sample_frames)
    caps = codec_capabilities()
    assert set(caps) == {"pil", "ffmpeg"}
    assert all(isinstance(v, bool) for v in caps.values())
    media = attach_fake_media(tables["documents"].limit(5),
                              "doc_id", "text")
    if not caps["pil"]:
        with pytest.raises(Exception, match="[Pp]il|Pillow"):
            media_features(media, fake=False).collect()
        with pytest.raises(Exception, match="[Pp]il|Pillow"):
            resize_images(media, 8, 8, fake=False).collect()
    else:   # codec-bearing env: same calls succeed, same schema
        assert media_features(media, fake=False).columns == \
            ["media_id", "byte_len", "sha256", "features"]
    if not caps["ffmpeg"]:
        with pytest.raises(Exception, match="ffmpeg"):
            sample_frames(media, fake=False).collect()


def test_real_bmp_resize_without_any_codec(spark, tables):
    """fake=False resize is REAL for BMP in every environment (numpy
    codec): bytes change, pixels are the nearest-neighbor resize, and
    the output schema stays MEDIA_SCHEMA."""
    from handyspark_spark.pipeline.multimodal import (MEDIA_SCHEMA,
                                                      attach_bmp_media,
                                                      decode_bmp,
                                                      resize_images,
                                                      resize_nearest)
    docs = tables["documents"].limit(6)
    media = attach_bmp_media(docs, "doc_id", "text", width=16, height=16)
    out = resize_images(media, 8, 4, fake=False)
    assert out.schema == MEDIA_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    src = {r["media_id"]: r for r in media.collect()}
    assert len(rows) == 6
    for mid, r in rows.items():
        assert (r["meta"]["width"], r["meta"]["height"]) == (8, 4)
        got = decode_bmp(bytes(r["data"]))
        assert got.shape == (4, 8, 3)
        want = resize_nearest(decode_bmp(bytes(src[mid]["data"])), 8, 4)
        npt.assert_array_equal(got, want)


def test_maintain_drift_monitor_matches_batch(spark, tables, tmp_path):
    """Streamed histogram state == one-shot batch histogram, and the
    drift report computed FROM STATE equals the batch drift_report."""
    from pyspark.sql import functions as F
    from handyspark_spark.pipeline.drift import drift_report
    from handyspark_spark.streaming.stateful import (drift_from_state,
                                                     maintain_drift_monitor)
    ev = tables["events"].select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
    src = str(tmp_path / "ev")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("day string, event_type string")
              .option("maxFilesPerTrigger", "2").parquet(src))
    state = str(tmp_path / "drift_state")
    q = maintain_drift_monitor(stream, "day", "event_type", state,
                               str(tmp_path / "ckpt_drift"))
    q.awaitTermination(120)
    got = sorted(drift_from_state(spark, state).collect())
    exp = sorted(drift_report(ev, "day", "event_type").collect())
    assert got == exp


def test_drift_from_state_sees_each_fold(spark, tmp_path):
    """drift_from_state after each of three folded micro-batches reads
    the CURRENT state: one new slice per batch gives 0, 1, 2 report
    rows, with no clearCache between calls (the report caches its
    histogram and the swap commit reuses the state path)."""
    from handyspark_spark.streaming.stateful import (drift_from_state,
                                                     maintain_drift_monitor)
    src = str(tmp_path / "ev_slices")
    state = str(tmp_path / "drift_state_3")
    ckpt = str(tmp_path / "ckpt_drift_3")
    got = []
    for i, day in enumerate(["d1", "d2", "d3"]):
        rows = [(day, b) for b in ["a", "b", "c"][: i + 1] * (i + 2)]
        (spark.createDataFrame(rows, "day string, event_type string")
         .coalesce(1).write.mode("append").parquet(src))
        stream = (spark.readStream.schema("day string, event_type string")
                  .parquet(src))
        maintain_drift_monitor(stream, "day", "event_type", state,
                               ckpt).awaitTermination(120)
        got.append(drift_from_state(spark, state).count())
    assert got == [0, 1, 2]


def test_maintain_hll_sketch_estimates_match_exact(spark, tables, tmp_path):
    """Streamed HLL state estimate ~= exact per-group distinct count."""
    from pyspark.sql import functions as F
    from handyspark_spark.operators.sketch import hll_merge_estimate
    from handyspark_spark.streaming.stateful import maintain_hll_sketch
    ev = tables["events"].select("event_type", "user_id")
    src = str(tmp_path / "ev_hll")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("event_type string, user_id long")
              .option("maxFilesPerTrigger", "2").parquet(src))
    state = str(tmp_path / "hll_state")
    q = maintain_hll_sketch(stream, "user_id", state,
                            str(tmp_path / "ckpt_hll"),
                            by=["event_type"])
    q.awaitTermination(120)
    est = {r["event_type"]: r["n_distinct"] for r in
           hll_merge_estimate(spark.read.parquet(state),
                              by=["event_type"]).collect()}
    exact = {r["event_type"]: r["n"] for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) <= max(2, 0.05 * exact[k])


# A minimal valid baseline JPEG (1x1), the standard golden blob — used
# so the Pillow-gated decode path is exercised with REAL compressed
# bytes the moment the environment gains PIL, instead of lighting up
# untested at decode level.
_GOLDEN_JPEG = __import__("base64").b64decode(
    "/9j/4AAQSkZJRgABAQEAYABgAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkSE"
    "w8UHRofHh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/2wBDAQkJCQ"
    "wLDBgNDRgyIRwhMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjIyMjI"
    "yMjIyMjIyMjIyMjL/wAARCAABAAEDASIAAhEBAxEB/8QAHwAAAQUBAQEBAQEAAAAA"
    "AAAAAAECAwQFBgcICQoL/8QAtRAAAgEDAwIEAwUFBAQAAAF9AQIDAAQRBRIhMUEGE"
    "1FhByJxFDKBkaEII0KxwRVS0fAkM2JyggkKFhcYGRolJicoKSo0NTY3ODk6Q0RFRk"
    "dISUpTVFVWV1hZWmNkZWZnaGlqc3R1dnd4eXqDhIWGh4iJipKTlJWWl5iZmqKjpKW"
    "mp6ipqrKztLW2t7i5usLDxMXGx8jJytLT1NXW19jZ2uHi4+Tl5ufo6erx8vP09fb3"
    "+Pn6/9oADAMBAAIRAxEAPwD3+iiigD//2Q==")


def test_golden_jpeg_decode_both_ways(spark):
    """Golden-bytes contract for the Pillow-gated decode: with PIL the
    real JPEG decodes to an (N, 3) float32 pixel block; without it the
    same call raises NotImplementedError naming the capability — never
    a silent fake on fake=False paths. Green in BOTH environments."""
    import pytest as _pytest

    from handyspark_spark.pipeline.multimodal import (_decode,
                                                      codec_capabilities)
    if codec_capabilities()["pil"]:
        px = _decode(_GOLDEN_JPEG, None, fake=False)
        assert px.dtype == "float32" and px.ndim == 2 and px.shape[1] == 3
        assert px.shape[0] >= 1                    # 1x1 -> one pixel row
    else:
        with _pytest.raises(NotImplementedError, match="pil"):
            _decode(_GOLDEN_JPEG, None, fake=False)


def test_golden_jpeg_media_features_end_to_end(spark):
    """Same golden blob through the Spark-side plumbing: media_features
    with fake=False decodes for real under PIL (byte_len/sha256 always
    real); without PIL the job fails loudly, and the fake=True stub
    keeps the schema contract either way."""
    import hashlib

    from handyspark_spark.pipeline.multimodal import (codec_capabilities,
                                                      media_features)
    df = spark.createDataFrame([(1, bytearray(_GOLDEN_JPEG))],
                               "media_id long, data binary")
    stub = media_features(df, fake=True).collect()[0]
    assert stub.byte_len == len(_GOLDEN_JPEG)
    assert stub.sha256 == hashlib.sha256(_GOLDEN_JPEG).hexdigest()
    if codec_capabilities()["pil"]:
        real = media_features(df, fake=False).collect()[0]
        assert real.byte_len == len(_GOLDEN_JPEG)
        assert len(real.features) >= 1
    else:
        import pytest as _pytest
        with _pytest.raises(Exception):            # Py4J-wrapped NIE
            media_features(df, fake=False).collect()


def test_streaming_ann_dedup_gate_and_replay(spark, tables, tmp_path):
    """Streaming near-dup gate over the persisted IVF-PQ corpus:
    batch 0 seeds the corpus; batch 1 carries 50 new rows plus 20
    EXACT copies of accepted rows under fresh ids — the copies must be
    dropped (cosine 1.0 >= threshold), the originals appended. A full
    replay (fresh checkpoint -> batch ids restart) must leave the
    corpus byte-identical: every batch directory already exists."""
    import os

    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    from handyspark_spark.streaming.ann_dedup import \
        maintain_deduped_corpus

    emb = tables["embeddings"].select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") < 100)
    fresh = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    copies = seed.filter(F.col("vec_id") < 20) \
        .withColumn("vec_id", F.col("vec_id") + 10_000)

    idx_path = str(tmp_path / "index")
    IVFPQIndex.fit(emb, n_centroids=8, m=8, nbits=4,
                   sample_n=256).save(idx_path, spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = (spark.readStream.schema(seed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = maintain_deduped_corpus(
            stream, idx_path, corpus, checkpoint_path=str(tmp_path / ckpt),
            threshold=0.95, nprobe=4, rerank=20)
        q.awaitTermination(120)

    seed.coalesce(1).write.mode("append").parquet(src)
    drain("ck1")
    got0 = spark.read.parquet(corpus)
    assert got0.count() == 100
    assert {"cell", "pq_code"} <= set(got0.columns)

    fresh.unionByName(copies).coalesce(1).write.mode("append").parquet(src)
    drain("ck1")                       # same checkpoint: only new file
    ids = {r["vec_id"] for r in
           spark.read.parquet(corpus).select("vec_id").collect()}
    assert len(ids) == 150
    assert not any(i >= 10_000 for i in ids), "near-dup copies let in"

    before = sorted(os.listdir(corpus))
    drain("ck_replay")                 # fresh checkpoint: full replay
    assert sorted(os.listdir(corpus)) == before
    assert spark.read.parquet(corpus).count() == 150


def test_ann_gate_stale_staging_does_not_eat_the_batch(spark, tables,
                                                       tmp_path):
    """Round-6 advice (high): a crash AFTER the staged write but BEFORE
    the publish rename leaves 'batch=1._next' on disk. If the replayed
    batch read that leftover as corpus, its own rows would look
    'already accepted', the left_anti would empty the batch, and an
    EMPTY partition would be committed — silent permanent loss. The
    corpus is now read from the committer's explicit published list,
    so the stale staging dir is invisible and the replay re-stages."""
    import os

    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    from handyspark_spark.streaming.ann_dedup import \
        maintain_deduped_corpus

    emb = tables["embeddings"].select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") < 80)
    nxt = emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 120))
    idx_path = str(tmp_path / "index")
    IVFPQIndex.fit(emb, n_centroids=8, m=8, nbits=4,
                   sample_n=256).save(idx_path, spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    corpus = str(tmp_path / "corpus")

    def drain(ckpt):
        stream = (spark.readStream.schema(seed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = maintain_deduped_corpus(
            stream, idx_path, corpus,
            checkpoint_path=str(tmp_path / ckpt), threshold=0.95)
        q.awaitTermination(120)

    seed.coalesce(1).write.mode("append").parquet(src)
    drain("ck")
    # simulate the crash: batch 1's staged output fully written, the
    # publish rename never ran
    idx = IVFPQIndex.load(spark, idx_path)
    (idx.encode(nxt).write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(corpus, "batch=1._next")))
    nxt.coalesce(1).write.mode("append").parquet(src)
    drain("ck")                        # same checkpoint: replays batch 1
    ids = sorted(r.vec_id for r in
                 spark.read.parquet(corpus).select("vec_id").collect())
    assert ids == list(range(120)), "staged leftovers ate the batch"
    assert not os.path.exists(os.path.join(corpus, "batch=1._next"))


def test_ann_gate_manifest_committer_survives_partial_write(
        spark, tables, tmp_path):
    """Object-store protocol: rename is NOT atomic there, so the gate
    runs with the manifest-last committer. A marker-less directory —
    exactly what a crashed non-atomic 'rename' (partial key copy)
    leaves behind — must be invisible to the corpus read, discarded,
    and rewritten by the replaying batch; committed batches carry the
    marker and the gate semantics (near-dup drop) are unchanged."""
    import os

    from handyspark_spark.pipeline.ann_index import IVFPQIndex
    from handyspark_spark.streaming.ann_dedup import \
        maintain_deduped_corpus
    from handyspark_spark.streaming.commit import ManifestCommitter

    emb = tables["embeddings"].select("vec_id", "embedding")
    seed = emb.filter(F.col("vec_id") < 80)
    copies = seed.filter(F.col("vec_id") < 15) \
        .withColumn("vec_id", F.col("vec_id") + 10_000)
    nxt = (emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 120))
           .unionByName(copies))
    idx_path = str(tmp_path / "index")
    IVFPQIndex.fit(emb, n_centroids=8, m=8, nbits=4,
                   sample_n=256).save(idx_path, spark)
    src = str(tmp_path / "src")
    os.makedirs(src)
    corpus = str(tmp_path / "corpus")
    com = ManifestCommitter()

    def drain(ckpt):
        stream = (spark.readStream.schema(seed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = maintain_deduped_corpus(
            stream, idx_path, corpus,
            checkpoint_path=str(tmp_path / ckpt), threshold=0.95,
            committer=com)
        q.awaitTermination(120)

    seed.coalesce(1).write.mode("append").parquet(src)
    drain("ck")
    b0 = os.path.join(corpus, "batch=0")
    assert com.is_published(b0)
    # simulate the non-atomic-rename crash: batch 1's data keys landed
    # in the FINAL path but the commit marker never did
    idx = IVFPQIndex.load(spark, idx_path)
    (idx.encode(nxt).write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(corpus, "batch=1")))
    assert not com.is_published(os.path.join(corpus, "batch=1"))
    nxt.coalesce(1).write.mode("append").parquet(src)
    drain("ck")                        # same checkpoint: replays batch 1
    assert com.is_published(os.path.join(corpus, "batch=1"))
    ids = {r.vec_id for r in
           spark.read.option("basePath", corpus)
           .parquet(*com.published(corpus))
           .select("vec_id").collect()}
    assert ids == set(range(120)), "partial write poisoned the replay"
    # near-dup copies were still gated out
    assert not any(i >= 10_000 for i in ids)


def test_versioned_state_store_matches_batch_and_replays(spark, tables,
                                                         tmp_path):
    """maintain_state_table through the object-store-safe
    VersionedStateStore (versioned dirs + pointer file, no directory
    rename anywhere): final state equals the batch aggregation, an
    orphan version directory from a crashed commit is invisible to
    reads, and a full fresh-checkpoint replay (batch ids restart at 0)
    leaves the state byte-identical via the batch-id dedup."""
    import os

    from handyspark_spark.operators.incremental import finalize_state
    from handyspark_spark.streaming.stateful import (VersionedStateStore,
                                                     maintain_state_table)
    store = VersionedStateStore()
    ev = tables["events"].limit(1500).select("user_id", "value")
    src = str(tmp_path / "src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    state = str(tmp_path / "vstate")

    def drain(ckpt):
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 2).parquet(src))
        q = maintain_state_table(stream, state, ["user_id"], "value",
                                 checkpoint_path=str(tmp_path / ckpt),
                                 store=store)
        q.awaitTermination(180)

    drain("ck1")
    got = {r.user_id: (r.n, round(r.total, 4)) for r in
           finalize_state(store.read(spark, state),
                          ["user_id"]).collect()}
    exp = {r.user_id: (r.n, round(r.total, 4)) for r in
           ev.groupBy("user_id")
           .agg(F.count("value").alias("n"),
                F.sum("value").alias("total")).collect()}
    assert got == exp and len(got) > 0
    last = store.last_batch_id(state)
    assert last is not None
    # old versions are GC'd after the pointer flip: one live v-dir
    assert [d for d in os.listdir(state)
            if d.startswith("v=")] == [f"v={last}"]
    # orphan version from a crashed future commit: pointer still rules
    (spark.createDataFrame([(999999, 1)], "user_id long, junk int")
     .write.parquet(os.path.join(state, f"v={last + 7}")))
    assert store.last_batch_id(state) == last
    assert "junk" not in store.read(spark, state).columns
    # fresh checkpoint -> every batch replays -> all skipped
    drain("ck2")
    got2 = {r.user_id: (r.n, round(r.total, 4)) for r in
            finalize_state(store.read(spark, state),
                           ["user_id"]).collect()}
    assert got2 == got


# ---------------------------------------------------------------------------
# Commit protocols over the fs binding (round-8: object-store seam)
# ---------------------------------------------------------------------------

def _fs_bindings(tmp_path):
    """The same protocol tests run over the local binding, the
    in-memory object-store binding, and (when fsspec is installed) the
    FsspecFS adapter over fsspec's memory filesystem — 'object-store-
    safe' is exercised through the SAME API on all of them."""
    from handyspark_spark.streaming.fs import LocalFS, MemoryFS
    out = [("local", LocalFS(), str(tmp_path / "root")),
           ("memory", MemoryFS(), "bucket/root")]
    try:
        import fsspec  # noqa: F401
        from handyspark_spark.streaming.fs import FsspecFS
        import secrets
        # unique root: fsspec's memory fs is process-global state
        out.append(("fsspec-memory", FsspecFS(protocol="memory"),
                    f"/fsspec-{secrets.token_hex(4)}/root"))
    except ImportError:
        pass
    return out


@pytest.mark.parametrize("committer_cls_name",
                         ["PosixRenameCommitter", "ManifestCommitter"])
def test_committer_contract_over_both_fs_bindings(tmp_path,
                                                  committer_cls_name):
    """publish/is_published/published contract for BOTH committers over
    BOTH fs bindings: committed batches are listed, a crashed prior
    attempt is discarded and rewritten by the retry, staging leftovers
    and marker-less partials are invisible."""
    import os

    from handyspark_spark.streaming import commit as C

    cls = getattr(C, committer_cls_name)
    for label, fs, root in _fs_bindings(tmp_path):
        com = cls(fs=fs)
        parent = os.path.join(root, committer_cls_name)

        def write_two(path, payload="x"):
            fs.put_atomic(os.path.join(path, "part-0"), payload)
            fs.put_atomic(os.path.join(path, "part-1"), payload)

        b0 = os.path.join(parent, "batch=0")
        com.publish(lambda p: write_two(p, "b0"), b0)
        assert com.is_published(b0), label
        assert com.published(parent) == [b0], label

        # crashed prior attempt for batch=1: data landed, commit
        # point didn't (stage dir for rename; marker-less final for
        # manifest) -> invisible, then the retry publishes cleanly
        b1 = os.path.join(parent, "batch=1")
        if committer_cls_name == "PosixRenameCommitter":
            write_two(b1 + com.SUFFIX, "junk")
        else:
            write_two(b1, "junk")
        assert not com.is_published(b1), label
        assert com.published(parent) == [b0], label
        com.publish(lambda p: write_two(p, "b1"), b1)
        assert com.published(parent) == [b0, b1], label
        assert fs.read_text(os.path.join(b1, "part-0")) == "b1", \
            f"{label}: stale crashed data survived the retry"


def test_manifest_survives_crash_where_rename_tears(tmp_path):
    """THE reason ManifestCommitter exists: on an object store a
    'rename' is per-key copy+delete. Crash-inject mid-publish on the
    MemoryFS binding: the rename committer leaves a HALF-VISIBLE final
    directory (is_published=True on a torn write — silent corruption),
    while the manifest committer's wreck is marker-less, invisible,
    and healed by the replay."""
    import os

    from handyspark_spark.streaming.commit import (ManifestCommitter,
                                                   PosixRenameCommitter)
    from handyspark_spark.streaming.fs import CrashInjected, MemoryFS

    def write_many(fs):
        def w(path):
            for i in range(6):
                fs.put_atomic(os.path.join(path, f"part-{i}"), str(i))
        return w

    # rename committer: crash INSIDE the non-atomic rename
    fs = MemoryFS()
    com = PosixRenameCommitter(fs=fs)
    final = "bucket/corpus/batch=0"
    fs.fail_after = 6 + 3            # 6 staged puts + 3 rename copies
    with pytest.raises(CrashInjected):
        com.publish(write_many(fs), final)
    fs.fail_after = None
    assert com.is_published(final)   # torn dir LOOKS committed
    assert len(fs.listdir(final)) < 6   # ...but is half-visible: WRONG

    # manifest committer: crash after SOME data puts, before the marker
    fs2 = MemoryFS()
    com2 = ManifestCommitter(fs=fs2)
    final2 = "bucket/corpus/batch=0"
    fs2.fail_after = 3
    with pytest.raises(CrashInjected):
        com2.publish(write_many(fs2), final2)
    fs2.fail_after = None
    assert not com2.is_published(final2)     # wreck is invisible
    assert com2.published("bucket/corpus") == []
    com2.publish(write_many(fs2), final2)    # the replaying batch
    assert com2.is_published(final2)
    assert len(fs2.listdir(final2)) == 7     # 6 parts + marker


def test_versioned_state_store_protocol_on_memory_object_store():
    """VersionedStateStore's pointer/GC/replay protocol exercised
    end-to-end on the MemoryFS object-store binding (version payloads
    carried as single-PUT objects via the _write/_read_version seam):
    commits flip the pointer and GC old versions, a crash BEFORE the
    pointer flip leaves the previous state live and the replayed batch
    heals it, and replayed() dedups batch ids."""
    import os

    from handyspark_spark.streaming.fs import CrashInjected, MemoryFS
    from handyspark_spark.streaming.stateful import VersionedStateStore

    fs = MemoryFS()

    class KVStateStore(VersionedStateStore):
        def _write_version(self, merged, vdir):
            # one PUT per version object: 'merged' is a plain dict here
            self.fs.put_atomic(os.path.join(vdir, "state.json"),
                               repr(merged))

        def _read_version(self, spark, vdir):
            return eval(self.fs.read_text(  # noqa: S307 - test-only
                os.path.join(vdir, "state.json")))

    store = KVStateStore(fs=fs)
    path = "bucket/state"
    assert store.last_batch_id(path) is None
    store.commit({"a": 1}, path, 0)
    assert store.last_batch_id(path) == 0
    assert store.read(None, path) == {"a": 1}
    store.commit({"a": 3}, path, 1)
    assert store.read(None, path) == {"a": 3}
    assert fs.listdir(path) == ["_CURRENT", "v=1"]    # v=0 GC'd
    assert store.replayed(path, 1) and store.replayed(path, 0)
    assert not store.replayed(path, 2)

    # crash DURING the v=2 write, before the pointer flip: the orphan
    # is invisible, previous state still rules, replay overwrites it
    fs.fail_after = fs.ops + 0       # next mutating op dies
    with pytest.raises(CrashInjected):
        store.commit({"a": 9}, path, 2)
    fs.fail_after = None
    assert store.last_batch_id(path) == 1
    assert store.read(None, path) == {"a": 3}
    store.commit({"a": 9}, path, 2)  # the replayed batch
    assert store.read(None, path) == {"a": 9}
    assert fs.listdir(path) == ["_CURRENT", "v=2"]


# ---------------------------------------------------------------------------
# FsspecFS adapter (round-9: the one previously-untested seam binding)
# ---------------------------------------------------------------------------

class _FakeFsspecFS:
    """Minimal stand-in implementing exactly the slice of the fsspec
    API the adapter touches (exists/isdir/ls/makedirs/rm/pipe/cat/mv)
    with memory-filesystem semantics: lets the adapter's TRANSLATION
    layer (name parsing, guards, encode/decode) run in environments
    where fsspec itself is absent. The real-package test below
    (`test_fsspec_adapter_over_real_memory_fs`) supersedes this when
    fsspec is installed."""

    def __init__(self):
        self.store: dict[str, bytes] = {}

    @staticmethod
    def _n(p):
        return "/" + str(p).strip("/")

    def exists(self, p):
        return self._n(p) in self.store or self.isdir(p)

    def isdir(self, p):
        pref = self._n(p) + "/"
        return any(k.startswith(pref) for k in self.store)

    def ls(self, p, detail=False):
        assert detail is False
        pref = self._n(p) + "/"
        return sorted({pref + k[len(pref):].split("/", 1)[0]
                       for k in self.store if k.startswith(pref)})

    def makedirs(self, p, exist_ok=False):
        pass

    def rm(self, p, recursive=False):
        p = self._n(p)
        ks = [k for k in self.store if k == p or k.startswith(p + "/")]
        if not ks:
            raise FileNotFoundError(p)
        for k in ks:
            del self.store[k]

    def pipe(self, p, data):
        assert isinstance(data, bytes)
        self.store[self._n(p)] = data

    def cat(self, p):
        return self.store[self._n(p)]

    def mv(self, src, dst, recursive=False):
        s, d = self._n(src), self._n(dst)
        for k in [k for k in self.store
                  if k == s or k.startswith(s + "/")]:
            self.store[d + k[len(s):]] = self.store.pop(k)


def _exercise_fs_contract(fs, root):
    """The FS surface contract every binding must satisfy — shared by
    the fake-fsspec and real-fsspec adapter tests."""
    import os

    from handyspark_spark.streaming.commit import ManifestCommitter

    # put/read roundtrip + atomic overwrite
    fs.put_atomic(f"{root}/a/x.txt", "one")
    assert fs.read_text(f"{root}/a/x.txt") == "one"
    fs.put_atomic(f"{root}/a/x.txt", "two")
    assert fs.read_text(f"{root}/a/x.txt") == "two"

    # listdir returns child NAMES (not full paths), files and dirs
    fs.put_atomic(f"{root}/a/b/y.txt", "y")
    assert fs.listdir(f"{root}/a") == ["b", "x.txt"]
    assert fs.listdir(f"{root}/absent") == []
    assert fs.isdir(f"{root}/a") and not fs.isdir(f"{root}/a/x.txt")
    assert fs.exists(f"{root}/a/x.txt") and not fs.exists(f"{root}/nope")

    # rename moves the whole subtree
    fs.rename(f"{root}/a", f"{root}/moved")
    assert not fs.exists(f"{root}/a/x.txt")
    assert fs.read_text(f"{root}/moved/b/y.txt") == "y"

    # rm_recursive: deletes subtree, no-op when absent
    fs.rm_recursive(f"{root}/moved")
    assert not fs.exists(f"{root}/moved")
    fs.rm_recursive(f"{root}/moved")          # must not raise

    # the committer protocol runs end-to-end over this binding
    com = ManifestCommitter(fs=fs)
    parent = f"{root}/corpus"

    def write_two(path):
        fs.put_atomic(os.path.join(path, "part-0"), "p0")
        fs.put_atomic(os.path.join(path, "part-1"), "p1")

    b0 = os.path.join(parent, "batch=0")
    com.publish(write_two, b0)
    assert com.is_published(b0)
    # marker-less partial is invisible and healed by the retry
    b1 = os.path.join(parent, "batch=1")
    fs.put_atomic(os.path.join(b1, "part-0"), "junk")
    assert not com.is_published(b1)
    assert com.published(parent) == [b0]
    com.publish(write_two, b1)
    assert com.published(parent) == [b0, b1]
    assert fs.read_text(os.path.join(b1, "part-0")) == "p0"


def test_fsspec_adapter_contract_on_fake_fs():
    """FsspecFS's translation layer (ls name-parsing, isdir guards,
    bytes encode/decode, recursive mv/rm mapping) against a minimal
    in-test fsspec lookalike — runs even where fsspec is absent."""
    from handyspark_spark.streaming.fs import FsspecFS
    _exercise_fs_contract(FsspecFS(fs=_FakeFsspecFS()), "/bucket/root")


def test_fsspec_adapter_over_real_memory_fs():
    """Same contract over the REAL fsspec memory filesystem (skipped
    when fsspec is not installed): proves the adapter drives an actual
    fsspec implementation, not just the lookalike."""
    import secrets

    pytest.importorskip("fsspec")
    from handyspark_spark.streaming.fs import FsspecFS
    _exercise_fs_contract(FsspecFS(protocol="memory"),
                          f"/fsspec-{secrets.token_hex(4)}/root")


def test_fsspec_adapter_importerror_names_package():
    """Constructing the adapter without fsspec installed must raise an
    ImportError naming the missing package (import-gated contract)."""
    try:
        import fsspec  # noqa: F401
        pytest.skip("fsspec installed here — constructor succeeds")
    except ImportError:
        pass
    from handyspark_spark.streaming.fs import FsspecFS
    with pytest.raises(ImportError, match="fsspec"):
        FsspecFS(protocol="memory")


def test_streaming_lsh_state_gate_replay_and_batch_equality(
        spark, tables, tmp_path):
    """Streaming MinHash-LSH dedup gate (maintain_lsh_state): batch 0
    seeds the band state; batch 1 carries fresh docs, EXACT re-ingests
    of accepted ids, and near-dup copies of accepted texts under new
    ids — re-ingests and bucket collisions must be dropped, true fresh
    docs appended. The survivor set must equal the BATCH contract
    (lsh_incremental_matches over the same split), and a full replay
    (fresh checkpoint) must leave the state byte-identical."""
    import os

    from handyspark_spark.pipeline.dedup import (lsh_bucket_state,
                                                 lsh_incremental_matches)
    from handyspark_spark.streaming.ann_dedup import maintain_lsh_state

    docs = tables["documents"].select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") < 200)
    fresh = docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 260))
    reingest = seed.filter(F.col("doc_id") < 10)           # same ids
    copies = (seed.filter(F.col("doc_id") < 15)            # same text,
              .withColumn("doc_id", F.col("doc_id") + 50_000))  # new ids
    batch1 = fresh.unionByName(reingest).unionByName(copies)

    src = str(tmp_path / "src")
    os.makedirs(src)
    state = str(tmp_path / "state")

    def drain(ckpt):
        stream = (spark.readStream.schema(seed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = maintain_lsh_state(stream, state,
                               checkpoint_path=str(tmp_path / ckpt),
                               num_hashes=16, bands=2)
        q.awaitTermination(120)

    seed.coalesce(1).write.mode("append").parquet(src)
    drain("ck1")
    got0 = spark.read.parquet(state)
    assert got0.count() == 200 * 2                          # bands=2
    assert {"doc_id", "band", "band_hash"} <= set(got0.columns)

    batch1.coalesce(1).write.mode("append").parquet(src)
    drain("ck1")                       # same checkpoint: only new file
    ids = {r["doc_id"] for r in spark.read.parquet(state)
           .select("doc_id").distinct().collect()}
    assert not any(i >= 50_000 for i in ids), "near-dup copies let in"
    assert ids >= {r["doc_id"] for r in seed.select("doc_id").collect()}

    # batch contract: survivors == batch1 fresh-ids minus
    # lsh_incremental_matches collision ids (boundary scope only)
    st = lsh_bucket_state(seed, num_hashes=16, bands=2)
    newdocs = batch1.join(seed.select("doc_id"), "doc_id", "left_anti")
    hits = {r["doc_id"] for r in
            lsh_incremental_matches(st, newdocs, num_hashes=16,
                                    bands=2).collect()}
    want = ({r["doc_id"] for r in newdocs.select("doc_id").collect()}
            - hits)
    assert ids - {r["doc_id"] for r in seed.select("doc_id").collect()} \
        == want

    before = sorted(os.listdir(state))
    drain("ck_replay")                 # fresh checkpoint: full replay
    assert sorted(os.listdir(state)) == before
