"""Structured Streaming twins (SURVEY.md §2.10): exercised with the
file-source → memory-sink loop so the same operators run incrementally."""

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from powerdatapipeline_spark.streaming import (
    read_stream_csv,
    streaming_dedup,
    streaming_downsample_mean,
    streaming_interval_stats,
    streaming_sessionize,
)

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("series", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _feed(tmp_path, rows):
    p = tmp_path / "in"
    p.mkdir(exist_ok=True)
    body = "\n".join(f"{t},{s},{v}" for t, s, v in rows)
    (p / f"batch_{time.time_ns()}.csv").write_text("ts,series,value\n" + body + "\n")
    return str(p)


def _run(stream_df, name):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode("append" if name == "dedup" else "complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    return q


def test_streaming_downsample_mean(spark, tmp_path):
    path = _feed(tmp_path, [
        ("2024-01-01 00:00:05", "a", 1.0),
        ("2024-01-01 00:00:25", "a", 3.0),
        ("2024-01-01 00:01:05", "a", 10.0),
    ])
    stream = read_stream_csv(spark, path, SCHEMA)
    agg = streaming_downsample_mean(stream, "ts", 60, ["value"],
                                    partition_by=["series"])
    _run(agg, "downsample")
    rows = {r.bucket_ts.minute: r.avg_value
            for r in spark.sql("SELECT * FROM downsample").collect()}
    assert rows == {0: 2.0, 1: 10.0}  # same result as the batch twin


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    path = _feed(tmp_path, [
        ("2024-01-01 00:00:01", "k1", 1.0),
        ("2024-01-01 00:00:02", "k1", 1.0),
        ("2024-01-01 00:00:03", "k2", 2.0),
    ])
    stream = read_stream_csv(spark, path, SCHEMA)
    out = streaming_dedup(stream, ["series"], "ts")
    _run(out, "dedup")
    assert spark.sql("SELECT count(*) FROM dedup").first()[0] == 2


def test_streaming_interval_stats(spark, tmp_path):
    path = _feed(tmp_path, [
        ("2024-01-01 00:00:10", "a", 1.0),
        ("2024-01-01 00:00:50", "a", 2.0),
        ("2024-01-01 00:01:10", "a", 3.0),
    ])
    stream = read_stream_csv(spark, path, SCHEMA)
    out = streaming_interval_stats(stream, "ts", bucket_seconds=60)
    _run(out, "stats")
    rows = {r.bucket_ts.minute: r.n_events
            for r in spark.sql("SELECT * FROM stats").collect()}
    assert rows == {0: 2, 1: 1}


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """session_window sessions must agree with the batch sessionize on the
    same events: same session count per series, same (start, end, n_events)
    per session (gaps chosen off the exact-gap boundary)."""
    from powerdatapipeline_spark.operators.timeseries import sessionize

    rows = [
        ("2024-01-01 00:00:00", "a", 1.0),
        ("2024-01-01 00:00:20", "a", 2.0),   # same session (gap 20 < 60)
        ("2024-01-01 00:02:00", "a", 3.0),   # gap 100 > 60 → new session
        ("2024-01-01 00:02:30", "a", 4.0),
        ("2024-01-01 00:00:10", "b", 5.0),   # b: one single-event session
    ]
    path = _feed(tmp_path, rows)
    stream = read_stream_csv(spark, path, SCHEMA)
    out = streaming_sessionize(stream, "ts", ["series"], 60)
    _run(out, "sessions")
    got = {(r.series, r.session_start, r.session_end): r.n_events
           for r in spark.sql("SELECT * FROM sessions").collect()}

    batch_df = spark.createDataFrame(
        rows, "ts string, series string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    batch = sessionize(batch_df, "ts", ["series"], 60)
    expect = {(r.series, r.session_start, r.session_end): r.n_events
              for r in batch.groupBy("series", "session_id")
              .agg(F.count("*").alias("n_events"),
                   F.min("ts").alias("session_start"),
                   F.max("ts").alias("session_end")).collect()}
    assert got == expect
    assert len({k[0] for k in got}) == 2 and len(got) == 3


def test_stateless_text_operators_stream_identically(spark, tmp_path):
    """Pure-column-expression operators (text quality scoring) must run
    UNCHANGED on a stream and produce exactly the batch result — the
    batch/streaming unification the engine's no-UDF rule buys."""
    from pyspark.sql import types as T

    from powerdatapipeline_spark.operators.text import quality_score

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    p = tmp_path / "docs"
    p.mkdir()
    (p / "docs.csv").write_text(
        "doc_id,text\n"
        "1,the quick brown fox jumps over the lazy dog\n"
        "2,short\n"
        "3,a much longer document with many common english words in it\n")
    stream = (spark.readStream.schema(schema).option("header", "true")
              .csv(str(p)))
    q = (quality_score(stream).writeStream.format("memory")
         .queryName("txt_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {tuple(r) for r in spark.sql("SELECT * FROM txt_stream").collect()}
    batch = spark.read.schema(schema).option("header", "true").csv(str(p))
    expect = {tuple(r) for r in quality_score(batch).collect()}
    assert got == expect and len(expect) == 3


def test_write_stream_parquet_foreachbatch(spark, tmp_path):
    """foreachBatch parquet sink: the stream lands as readable parquet and a
    RESTART from the same checkpoint does not duplicate already-committed
    batches (idempotent landing)."""
    from powerdatapipeline_spark.streaming import write_stream_parquet

    path = _feed(tmp_path, [("2024-01-01 00:00:01", "a", 1.0),
                            ("2024-01-01 00:00:02", "b", 2.0)])
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream = read_stream_csv(spark, path, SCHEMA)
    q = write_stream_parquet(stream, out, ckpt)
    q.awaitTermination(60)
    assert spark.read.parquet(out).count() == 2
    # restart with NO new input: checkpoint says everything is committed
    q2 = write_stream_parquet(read_stream_csv(spark, path, SCHEMA), out, ckpt)
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == 2  # no duplicates


def test_stream_stream_join_respects_lag_bound(spark, tmp_path):
    """Stream-stream inner join: same-key rows within the lag window pair
    up (boundary INCLUSIVE), later or other-key rows do not — same rows a
    batch join of the two fixtures would produce."""
    from powerdatapipeline_spark.streaming import stream_stream_join

    clicks_p = tmp_path / "clicks"; clicks_p.mkdir()
    (clicks_p / "c.csv").write_text(
        "ts,series,value\n"
        "2024-01-01 00:00:00,u1,1\n"
        "2024-01-01 00:00:00,u2,2\n")
    pur_p = tmp_path / "purchases"; pur_p.mkdir()
    (pur_p / "p.csv").write_text(
        "ts,series,value\n"
        "2024-01-01 00:00:05,u1,10\n"    # +5 s: in
        "2024-01-01 00:10:00,u1,11\n"    # +600 s: boundary, inclusive
        "2024-01-01 00:10:01,u1,12\n"    # +601 s: out
        "2024-01-01 00:00:05,u9,13\n")   # other key: out
    clicks = (read_stream_csv(spark, str(clicks_p), SCHEMA)
              .select(F.col("series").alias("user"),
                      F.col("value").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (read_stream_csv(spark, str(pur_p), SCHEMA)
                 .select(F.col("series").alias("p_user"),
                         F.col("value").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts")))
    joined = stream_stream_join(clicks, purchases, "user", "p_user",
                                "click_ts", "purchase_ts",
                                max_lag_seconds=600)
    q = (joined.select("user", "click_id", "purchase_id")
         .writeStream.format("memory").queryName("ssj")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {(r.user, r.click_id, r.purchase_id)
           for r in spark.table("ssj").collect()}
    assert got == {("u1", 1.0, 10.0), ("u1", 1.0, 11.0)}


def test_rate_source_streaming_downsample(spark):
    """Non-file streaming source: the `rate` source generates (timestamp,
    value) rows continuously — proving the downsample operator is
    source-agnostic (file stream in the other tests, generator here; Kafka
    at deployment is the same readStream contract). The query runs a few
    real micro-batches (processingTime trigger) and is stopped once output
    lands."""
    from powerdatapipeline_spark.streaming.pipeline import state_sized

    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", "200").load())
    agg = streaming_downsample_mean(
        stream.withColumn("value", F.col("value").cast("double")),
        "timestamp", 1, ["value"])
    with state_sized(spark, 4):
        q = (agg.writeStream.format("memory").queryName("rate_ds")
             .outputMode("complete")
             .trigger(processingTime="500 milliseconds").start())
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.table("rate_ds").count() >= 2:
                    break
                time.sleep(0.5)
            rows = spark.table("rate_ds").collect()
        finally:
            q.stop()
    assert len(rows) >= 2
    # rate-source values are 0,1,2,... so each 1-s bucket's mean must sit
    # inside the global value range; buckets must be distinct and aligned
    buckets = [r.bucket_ts for r in rows]
    assert len(set(buckets)) == len(buckets)
    assert all(b.microsecond == 0 for b in buckets)
    assert all(r.avg_value >= 0 for r in rows)


def test_streaming_curation_narrow_ops_match_batch(spark, sf_dir):
    """The curation scalar ops (PII redaction, quality scoring, token
    counts) are narrow maps — they must run UNCHANGED on a streaming
    source and produce batch-identical rows. Pins the 'curation is
    stream-safe' claim with the documents fixture streamed via the
    parquet file source."""
    import uuid

    from pyspark.sql import functions as F

    from powerdatapipeline_spark.operators import text as tx

    schema = ("doc_id bigint, text string, lang string, source string,"
              " n_chars bigint")
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    assert stream.isStreaming
    curated = stream.select(
        "doc_id", *tx.pii_counts("text"),
        tx.redact_pii("text").alias("clean_text"),
        tx.token_count("text").alias("n_tokens"))
    name = f"curate_sink_{uuid.uuid4().hex[:8]}"
    q = (curated.writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {r.doc_id: (r.n_url, r.clean_text, r.n_tokens)
           for r in spark.table(name).collect()}
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", *tx.pii_counts("text"),
        tx.redact_pii("text").alias("clean_text"),
        tx.token_count("text").alias("n_tokens"))
    want = {r.doc_id: (r.n_url, r.clean_text, r.n_tokens)
            for r in batch.collect()}
    assert got == want and len(got) == 500


def test_stream_static_enrich_matches_batch_join(spark, tmp_path):
    """Stream-static dimension enrichment over micro-batches == the
    batch broadcast join on the union of all batches; left join keeps
    unregistered keys."""
    from powerdatapipeline_spark.streaming.pipeline import (
        stream_static_enrich)
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    src = tmp_path / "ss_in"
    src.mkdir()
    (src / "a.csv").write_text("k,v\n1,10.0\n2,20.0\n")
    (src / "b.csv").write_text("k,v\n3,30.0\n9,90.0\n")
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.DoubleType())])
    dim = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "k long, name string")
    stream = (spark.readStream.schema(schema).option("header", "true")
              .option("maxFilesPerTrigger", 1).csv(str(src)))
    q = (stream_static_enrich(stream, dim, "k")
         .writeStream.format("memory").queryName("sse")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.k, r.v, r.name) for r in
                 spark.sql("SELECT * FROM sse").collect())
    batch = spark.read.schema(schema).option("header", "true").csv(str(src))
    want = sorted((r.k, r.v, r.name) for r in
                  batch.join(F.broadcast(dim), ["k"], "left").collect())
    assert got == want and len(got) == 4
    # the unregistered key survives with a NULL dim side
    assert (9, 90.0, None) in got


def test_stream_harness_removes_checkpoint_when_start_fails(
        spark, tmp_path, monkeypatch):
    """The registry's streaming harness removes its scratch checkpoint
    on every exit path, not only on success: a query that fails at
    start() (append-mode aggregation without a watermark) leaves no
    directory behind and restores the no-data-batch conf."""
    import tempfile

    from powerdatapipeline_spark.queries import _run_stream_to_memory
    from powerdatapipeline_spark.streaming import pipeline

    monkeypatch.setattr(
        pipeline, "scratch_dir",
        lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=tmp_path))
    ndb_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(ndb_key, "true")
    counts = (spark.readStream.format("rate").load()
              .groupBy("value").count())
    with pytest.raises(Exception, match="(?i)append"):
        _run_stream_to_memory(spark, counts, "start_fails", "append")
    assert list(tmp_path.iterdir()) == []
    assert spark.conf.get(ndb_key, "true") == before
