"""Custom stateful streaming operator: streaming online z-score must equal
its batch twin exactly (same Welford/prefix-stats math), state must persist
ACROSS micro-batches, and the batch twin must equal a hand-computed oracle."""

import math
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from powerdatapipeline_spark.streaming.stateful import (
    batch_zscore_online,
    streaming_zscore,
)

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("series", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

ROWS = [
    ("2024-01-01 00:00:01", "a", 10.0),
    ("2024-01-01 00:00:02", "a", 12.0),
    ("2024-01-01 00:00:03", "a", 11.0),
    ("2024-01-01 00:00:04", "a", 50.0),   # outlier
    ("2024-01-01 00:00:01", "b", 1.0),
    ("2024-01-01 00:00:02", "b", 2.0),
    ("2024-01-01 00:00:03", "b", 3.0),
]


def _hand_oracle():
    out = {}
    hist: dict[str, list[float]] = {}
    for ts, s, v in sorted(ROWS):
        h = hist.setdefault(s, [])
        if len(h) > 1:
            mean = sum(h) / len(h)
            var = sum((x - mean) ** 2 for x in h) / len(h)
            out[(s, v)] = (v - mean) / math.sqrt(var) if var > 0 else None
        else:
            out[(s, v)] = None
        h.append(v)
    return out


def test_batch_twin_matches_hand_oracle(spark):
    df = spark.createDataFrame(
        [Row(ts=ts, series=s, value=v) for ts, s, v in ROWS],
        schema="ts string, series string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {(r.series, r.value): r.zscore
           for r in batch_zscore_online(df, "series").collect()}
    want = _hand_oracle()
    assert set(got) == set(want)
    for k in want:
        if want[k] is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(want[k], rel=1e-9)


def _write_batch(path, rows, mtime=None):
    body = "\n".join(f"{ts},{s},{v}" for ts, s, v in rows)
    f = path / f"b{time.time_ns()}.csv"
    f.write_text("ts,series,value\n" + body + "\n")
    if mtime is not None:
        # the file stream source orders batches by modification time; under
        # suite load two quick writes can tie — pin distinct mtimes so
        # micro-batch order is deterministic
        import os
        os.utime(f, (mtime, mtime))


def test_streaming_equals_batch_twin_across_microbatches(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # two files → with maxFilesPerTrigger=1 the state MUST carry across
    # micro-batches for the late rows to see the early history
    now = time.time()
    _write_batch(src, ROWS[:3] + ROWS[4:5], mtime=now - 60)
    _write_batch(src, ROWS[3:4] + ROWS[5:], mtime=now)
    stream = (spark.readStream.schema(SCHEMA).option("header", "true")
              .option("maxFilesPerTrigger", "1").csv(str(src)))
    out = streaming_zscore(stream, "series")
    q = (out.writeStream.format("memory").queryName("zs")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.series, r.value): r.zscore for r in spark.sql("SELECT * FROM zs").collect()}
    want = _hand_oracle()
    assert set(got) == set(want)
    for k, w in want.items():
        if w is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(w, rel=1e-9)


def test_streaming_zscore_n_seen_monotonic(spark, tmp_path):
    src = tmp_path / "in2"
    src.mkdir()
    _write_batch(src, ROWS)
    stream = (spark.readStream.schema(SCHEMA).option("header", "true")
              .csv(str(src)))
    out = streaming_zscore(stream, "series")
    q = (out.writeStream.format("memory").queryName("zs2")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM zs2 ORDER BY series, event_ts").collect()
    per_series = {}
    for r in rows:
        seq = per_series.setdefault(r.series, [])
        seq.append(r.n_seen)
    for s, seq in per_series.items():
        assert seq == sorted(seq) and seq[0] == 0


def test_streaming_emits_null_values_like_batch(spark, tmp_path):
    """NULL values must be emitted (zscore NULL), not dropped — the batch
    twin keeps them, and row counts must reconcile between paths."""
    src = tmp_path / "in3"
    src.mkdir()
    (src / "b.csv").write_text(
        "ts,series,value\n"
        "2024-01-01 00:00:01,a,10.0\n"
        "2024-01-01 00:00:02,a,\n"
        "2024-01-01 00:00:03,a,12.0\n")
    stream = (spark.readStream.schema(SCHEMA).option("header", "true")
              .csv(str(src)))
    q = (streaming_zscore(stream, "series").writeStream.format("memory")
         .queryName("zs3").outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM zs3 ORDER BY event_ts").collect()
    assert len(rows) == 3
    assert rows[1].value is None and rows[1].zscore is None
    assert rows[1].n_seen == 1  # null row scored against 1 prior non-null
    assert rows[2].n_seen == 1  # null did not advance the statistic


# ---------------------------------------------------------------- EWMA twin

def test_streaming_ewma_equals_batch_iir_twin(spark, tmp_path):
    """Streaming IIR EWMA across micro-batch boundaries == the batch
    applyInPandas twin on the union of all batches (state must carry s
    between files)."""
    from powerdatapipeline_spark.streaming.stateful import (
        batch_ewma_iir, streaming_ewma)

    src = tmp_path / "ein"
    src.mkdir()
    (src / "a.csv").write_text(
        "ts,series,value\n"
        "2024-01-01 00:00:01,a,10.0\n"
        "2024-01-01 00:00:02,a,20.0\n"
        "2024-01-01 00:00:01,b,5.0\n")
    (src / "b.csv").write_text(
        "ts,series,value\n"
        "2024-01-01 00:00:03,a,\n"
        "2024-01-01 00:00:04,a,30.0\n"
        "2024-01-01 00:00:02,b,7.0\n")
    stream = (spark.readStream.schema(SCHEMA).option("header", "true")
              .option("maxFilesPerTrigger", 1).csv(str(src)))
    q = (streaming_ewma(stream, "series", alpha=0.5)
         .writeStream.format("memory").queryName("ew1")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.series, r.event_ts): (r.value, r.ewma) for r in
           spark.sql("SELECT * FROM ew1").collect()}
    batch = spark.read.schema(SCHEMA).option("header", "true").csv(str(src))
    want = {(r.series, r.event_ts): (r.value, r.ewma) for r in
            batch_ewma_iir(batch, "series", alpha=0.5).collect()}
    assert set(got) == set(want) and len(got) == 6
    for k in want:
        gv, ge = got[k]
        wv, we = want[k]
        assert gv == wv
        if we is None:
            assert ge is None
        else:
            assert ge == pytest.approx(we, abs=1e-9)
    # hand value: series a -> 10, .5*20+.5*10=15, NULL, .5*30+.5*15=22.5
    import datetime as dt
    a4 = [v for (s, t), v in want.items()
          if s == "a" and t.second == 4][0]
    assert a4[1] == pytest.approx(22.5)


def test_streaming_ewma_validates_alpha(spark):
    from powerdatapipeline_spark.streaming.stateful import (
        batch_ewma_iir, streaming_ewma)
    df = spark.createDataFrame([("a", 1.0)], "series string, value double")
    with pytest.raises(ValueError):
        batch_ewma_iir(df, "series", alpha=0.0)
    with pytest.raises(ValueError):
        streaming_ewma(df, "series", alpha=0.0)


# ------------------------------------------- schema'd partials reads
def test_fixed_partial_schemas_match_what_append_writes(spark):
    """The finalizers read the partials with these schemas, so they must
    be exactly what the monitors' batch reductions produce."""
    from powerdatapipeline_spark.operators.stats import did_cell_moments
    from powerdatapipeline_spark.streaming import stateful as sf

    df = spark.createDataFrame([(True, False, 1.5)],
                               "g boolean, p boolean, v double")

    def ddl(frame):
        return ", ".join(f"{c} {t}" for c, t in frame.dtypes)

    assert ddl(sf._value_counts("v", "cb")(df)) == sf.KS_PARTIAL
    assert ddl(sf._value_counts("v", "c")(df)) == sf.QUANTILE_PARTIAL
    assert ddl(did_cell_moments(df, "v", F.col("g"), F.col("p"))) \
        == sf.DID_PARTIAL
    from powerdatapipeline_spark.operators.stats import histogram
    psi = (histogram(df, "v", 0.0, 200.0, 10)
           .select("bin", F.col("n").cast("bigint").alias("n")))
    assert ddl(psi) == sf.PSI_PARTIAL


def test_empty_partials_dir_finalizes_without_inference(spark, tmp_path):
    """A partials dir that no micro-batch has written to yet reads as an
    empty frame (it used to fail with 'Unable to infer schema'): the
    quantile monitor finalizes to its all-NULL row, the DiD monitor
    raises its own < 2-rows-per-cell contract error."""
    from powerdatapipeline_spark.streaming.stateful import (
        finalize_did_monitor, finalize_quantile_monitor)

    p = tmp_path / "partials"
    p.mkdir()
    assert finalize_quantile_monitor(spark, str(p)).collect() == [
        Row(n=None, q_50=None, q_90=None, q_99=None)]
    with pytest.raises(Exception, match="a cell has < 2 rows"):
        finalize_did_monitor(spark, str(p)).collect()
