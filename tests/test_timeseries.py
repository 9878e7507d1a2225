"""Value-level tests for the time-series operators (unlike the reference's
mock-heavy structural tests — SURVEY.md §5): known tiny fixtures, exact
expected outputs, plus the property-style identities SURVEY.md suggests
(window count = n − w + 1, upsample tick arithmetic)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from powerdatapipeline_spark.operators import timeseries as ts


def _series(spark, n=10, step=1, start=0):
    rows = [Row(s=float(start + i * step), v=float(i)) for i in range(n)]
    return spark.createDataFrame(rows)


def test_with_interval_positive_step(spark):
    df = ts.with_interval(_series(spark, 5, step=2), "s")
    vals = [r.interval for r in df.orderBy("s").collect()]
    # positive lead-diff (the reference emits the negated value and asserts
    # against -interval — Appendix A.3; we emit the positive step)
    assert vals == [2.0, 2.0, 2.0, 2.0, None]


def test_check_intervals_passes_and_fails(spark):
    assert ts.check_intervals(_series(spark, 20, step=3), "s", 3)
    with pytest.raises(AssertionError):
        ts.check_intervals(_series(spark, 20, step=3), "s", 5)


def test_downsample_modulo(spark):
    out = ts.downsample_modulo(_series(spark, 100), "s", 10)
    assert out.count() == 10
    assert all(r.s % 10 == 0 for r in out.collect())


def test_downsample_mean_buckets(spark):
    df = _series(spark, 60).withColumn("ts", F.timestamp_seconds("s"))
    out = ts.downsample_mean(df, "ts", 30, ["v"])
    rows = {r.bucket_ts.second + r.bucket_ts.minute * 60: r.avg_v
            for r in out.collect()}
    assert len(rows) == 2
    assert rows[0] == pytest.approx(sum(range(30)) / 30)
    assert rows[30] == pytest.approx(sum(range(30, 60)) / 30)


def test_upsample_repeat_grid_alignment(spark):
    # row at s=1803 with interval 600, span 1800 → start = 1803//600*600 = 1800
    df = spark.createDataFrame([Row(s=1803.0, v=7.0)])
    out = ts.upsample_repeat(df, "s", 600, 1800).orderBy("s").collect()
    assert [r.s for r in out] == [1800.0, 2400.0, 3000.0]
    assert all(r.v == 7.0 for r in out)  # repeat fill carries values


def test_resample_dispatcher_none(spark):
    df = _series(spark, 5)
    assert ts.resample(df, "s", 60, 60) is df
    # equal cadences are a no-op even for method='mean' with no value_cols —
    # the guard must not fire before the early return
    assert ts.resample(df, "s", 60, 60, method="mean") is df


def test_resample_mean_empty_value_cols_raises(spark):
    with pytest.raises(ValueError):
        ts.resample(_series(spark, 5), "s", 60, 120, method="mean")


def test_resample_linear_downsample_raises(spark):
    with pytest.raises(ValueError):
        ts.resample(_series(spark, 5), "s", 60, 120, value_cols=["v"],
                    method="linear")


def test_resample_mean_respects_partition_by(spark):
    rows = [Row(k="a", s=float(i), v=1.0) for i in range(60)] + \
           [Row(k="b", s=float(i), v=3.0) for i in range(60)]
    df = spark.createDataFrame(rows)
    out = ts.resample(df, "s", 1, 60, value_cols=["v"], method="mean",
                      partition_by=["k"])
    got = {r.k: r.avg_v for r in out.collect()}
    # series must NOT be averaged together (pre-fix both collapsed to 2.0)
    assert got == {"a": 1.0, "b": 3.0}


def test_upsample_linear_duplicate_timestamps_no_crash(spark):
    # duplicate timestamps used to throw "Illegal sequence boundaries"
    rows = [Row(s=0.0, v=0.0), Row(s=10.0, v=10.0), Row(s=10.0, v=20.0),
            Row(s=20.0, v=30.0)]
    df = spark.createDataFrame(rows)
    out = ts.upsample_linear(df, "s", 5, ["v"]).collect()
    assert len(out) > 0  # completes; duplicate pair degrades to a self-tick


def test_sliding_windows_count_and_content(spark):
    out = ts.sliding_windows(_series(spark, 10), "s", 4, ["v"])
    rows = out.orderBy("s").collect()
    assert len(rows) == 10 - 4 + 1  # drop-remainder: n - w + 1 windows
    assert [x.v for x in rows[0].window] == [0.0, 1.0, 2.0, 3.0]
    assert [x.v for x in rows[-1].window] == [6.0, 7.0, 8.0, 9.0]


def test_sliding_windows_bucketed_equals_global(spark):
    n, w = 50, 5
    df = _series(spark, n)
    glob = ts.sliding_windows(df, "s", w, ["v"])
    buck = ts.sliding_windows_bucketed(df, "s", w, ["v"], step_seconds=1,
                                       bucket_rows=10)
    g = sorted([tuple(x.v for x in r.window) for r in glob.collect()])
    b = sorted([tuple(x.v for x in r.window) for r in buck.collect()])
    assert g == b  # overlap replication reproduces the global result exactly


def test_window_features_targets_next_step(spark):
    out = ts.window_features_targets(
        ts.sliding_windows(_series(spark, 6), "s", 3, ["v"]), "window", 3)
    r = out.orderBy("s").first()
    assert [x.v for x in r.features] == [0.0, 1.0]
    assert r.target.v == 2.0


def test_ffill_bfill_interpolate(spark):
    rows = [Row(s=0.0, v=1.0), Row(s=1.0, v=None), Row(s=2.0, v=None),
            Row(s=3.0, v=4.0), Row(s=4.0, v=None)]
    df = spark.createDataFrame(rows, schema="s double, v double")
    f = {r.s: r.v for r in ts.ffill(df, "s", ["v"]).collect()}
    assert f == {0.0: 1.0, 1.0: 1.0, 2.0: 1.0, 3.0: 4.0, 4.0: 4.0}
    b = {r.s: r.v for r in ts.bfill(df, "s", ["v"]).collect()}
    assert b == {0.0: 1.0, 1.0: 4.0, 2.0: 4.0, 3.0: 4.0, 4.0: None}
    i = {r.s: r.v for r in ts.interpolate_linear(df, "s", ["v"]).collect()}
    assert i[1.0] == pytest.approx(2.0)
    assert i[2.0] == pytest.approx(3.0)
    assert i[4.0] == 4.0  # trailing edge falls back to ffill semantics


def test_fill_missing_composite(spark):
    rows = [Row(s=0.0, a=None, c=0.0), Row(s=1.0, a=5.0, c=None),
            Row(s=2.0, a=None, c=10.0)]
    df = spark.createDataFrame(rows, schema="s double, a double, c double")
    out = {r.s: (r.a, r.c) for r in
           ts.fill_missing(df, "s", ["a", "c"], interpolate_cols=["c"]).collect()}
    assert out[0.0] == (5.0, 0.0)   # leading null backfilled
    assert out[1.0] == (5.0, 5.0)   # cumulative col interpolated
    assert out[2.0] == (5.0, 10.0)  # ffill carries


def _gappy_series(spark, n=40):
    """Null runs engineered to span bucket boundaries at bucket_seconds=10:
    leading nulls, a run crossing the 0→1 boundary, bucket 2 entirely null
    (carry must hop an empty bucket), trailing nulls."""
    def val(i):
        if i < 3 or 8 <= i <= 13 or 20 <= i <= 29 or i >= 37:
            return None
        return float(i)
    rows = [Row(s=float(i), v=val(i)) for i in range(n)]
    return spark.createDataFrame(rows, schema="s double, v double")


def _vals(df):
    return [(r.s, r.v) for r in df.orderBy("s").collect()]


def test_bucketed_fills_equal_global(spark):
    """The 100× scale path: every bucketed fill must reproduce the
    unpartitioned-window result exactly, including null runs that span
    bucket boundaries and a fully-null bucket."""
    df = _gappy_series(spark)
    assert _vals(ts.ffill_bucketed(df, "s", ["v"], 10)) == \
        _vals(ts.ffill(df, "s", ["v"]))
    assert _vals(ts.bfill_bucketed(df, "s", ["v"], 10)) == \
        _vals(ts.bfill(df, "s", ["v"]))
    assert _vals(ts.interpolate_linear_bucketed(df, "s", ["v"], 10)) == \
        _vals(ts.interpolate_linear(df, "s", ["v"]))


def test_fill_missing_bucketed_route(spark):
    df = _gappy_series(spark)
    glob = ts.fill_missing(df, "s", ["v"], interpolate_cols=["v"])
    buck = ts.fill_missing(df, "s", ["v"], interpolate_cols=["v"],
                           bucket_seconds=10)
    assert _vals(buck) == _vals(glob)
    # multi-column: plain ffill+bfill col alongside an interpolated col
    df2 = _gappy_series(spark).withColumn("w", F.col("v") * 2)
    glob2 = ts.fill_missing(df2, "s", ["v", "w"], interpolate_cols=["v"])
    buck2 = ts.fill_missing(df2, "s", ["v", "w"], interpolate_cols=["v"],
                            bucket_seconds=10)
    assert [(r.s, r.v, r.w) for r in buck2.orderBy("s").collect()] == \
        [(r.s, r.v, r.w) for r in glob2.orderBy("s").collect()]


def test_prefix_split_fractions_and_order(spark):
    df = _series(spark, 100)
    train, test, ev = ts.prefix_split(df, "s", 0.8, 0.1)
    assert (train.count(), test.count(), ev.count()) == (80, 10, 10)
    # deterministic PREFIX split: max(train) < min(test) < min(eval)
    assert train.agg(F.max("s")).first()[0] < test.agg(F.min("s")).first()[0]
    assert test.agg(F.max("s")).first()[0] < ev.agg(F.min("s")).first()[0]


def test_prefix_split_partitioned_schema_order(spark):
    rows = [Row(v=float(i), k="a", s=float(i)) for i in range(50)]
    df = spark.createDataFrame(rows)  # partition key deliberately mid-schema
    train, test, ev = ts.prefix_split(df, "s", 0.8, 0.1, partition_by=["k"])
    for part in (train, test, ev):
        assert part.columns == df.columns  # join must not reorder the schema


def test_prefix_split_thresholds_match_two_scalar_percentiles(spark):
    # duplicate timestamps (three rows per second, gaps of 2 s) and two
    # series of different length, so the thresholds interpolate
    rows = [Row(k=k, s=float(i // 3 * 2), v=float(i))
            for k, n in (("a", 20), ("b", 31)) for i in range(n)]
    df = spark.createDataFrame(rows)
    t = F.col("s").cast("double")
    lo, hi = 0.75, 0.75 + 0.125
    for by in (None, ["k"]):
        q = df.groupBy(*(by or [])).agg(F.percentile(t, F.lit(lo)).alias("lo"),
                                        F.percentile(t, F.lit(hi)).alias("hi"))
        j = df.join(q, by) if by else df.crossJoin(q)
        want = [j.where(t <= F.col("lo")),
                j.where((t > F.col("lo")) & (t <= F.col("hi"))),
                j.where(t > F.col("hi"))]
        got = ts.prefix_split(df, "s", lo, 0.125, partition_by=by)
        for g, w in zip(got, want):
            assert sorted(g.collect()) == sorted(w.select(*df.columns).collect())
            assert g.count() > 0


def test_prefix_split_fraction_validation(spark):
    with pytest.raises(AssertionError):
        ts.prefix_split(_series(spark, 10), "s", 0.9, 0.3)


def test_zip_by_position(spark):
    left = _series(spark, 5).select("s", F.col("v").alias("lv"))
    right = _series(spark, 5, start=100).select(
        F.col("s").alias("rs"), (F.col("v") * 10).alias("rv"))
    out = ts.zip_by_position(left, right, "s", "rs").orderBy("s").collect()
    assert [(r.lv, r.rv) for r in out] == [(float(i), float(i * 10)) for i in range(5)]


def test_supervised_pair_single_plan(spark):
    out = ts.supervised_pair(_series(spark, 3), ["s"], ["v"]).collect()
    assert all(r.input.s is not None and r.target.v is not None for r in out)


def test_seasonal_profile_and_deviation(spark):
    """Hour-of-day baselines: a planted spike at a series' usual quiet
    hour must dominate the z-scores; constant-baseline slots yield NULL z
    (not inf); the profile means are the exact per-slot means."""
    import datetime as dt

    from pyspark.sql import Row
    from powerdatapipeline_spark.operators import timeseries as ts

    rows = []
    base = dt.datetime(2024, 1, 1)
    for day in range(10):
        for hour, val in [(6, 10.0), (18, 50.0)]:
            rows.append(Row(event_id=day * 100 + hour,
                            ts=base + dt.timedelta(days=day, hours=hour),
                            series="a", value=val + (day % 3)))  # mild noise
    # constant-baseline slot: always exactly 5.0 at hour 12
    rows += [Row(event_id=1000 + d,
                 ts=base + dt.timedelta(days=d, hours=12),
                 series="a", value=5.0) for d in range(10)]
    # the planted anomaly: enormous load at the quiet 6 am slot
    rows.append(Row(event_id=9999,
                    ts=base + dt.timedelta(days=10, hours=6),
                    series="a", value=500.0))
    df = spark.createDataFrame(rows)

    prof = {r.slot: r for r in ts.seasonal_profile(
        df, "ts", "value", ["series"]).collect()}
    assert prof[12].profile_mean == 5.0 and prof[12].profile_std == 0.0
    assert prof[18].n == 10
    # slot-6 mean includes the spike; exact mean check
    vals6 = [10.0 + (d % 3) for d in range(10)] + [500.0]
    assert prof[6].profile_mean == pytest.approx(
        round(sum(vals6) / len(vals6), 6))

    dev = ts.deviation_from_profile(df, "ts", "value", ["series"])
    by_id = {r.event_id: r for r in dev.collect()}
    assert by_id[1000].z_score is None          # constant slot: NULL, not inf
    top = max((r for r in by_id.values() if r.z_score is not None),
              key=lambda r: abs(r.z_score))
    assert top.event_id == 9999 and top.z_score > 2.0
