"""Datetime/cyclical/vector function tests — value-level."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from powerdatapipeline_spark.functions import (
    concat_date_time,
    cosine_similarity,
    cyclical_minute_hour_day,
    dot,
    epoch_seconds,
    l2_norm,
    seconds_to_days_minutes_seconds,
    synthetic_datetime,
    vectorize,
    with_derived_columns,
)


def test_concat_and_epoch(spark):
    df = spark.createDataFrame([Row(date_block="2016-02-01", time_block="00:30:00")])
    out = (df.withColumn("datetimestamp", concat_date_time("date_block", "time_block"))
             .withColumn("s", epoch_seconds("datetimestamp")))
    r = out.first()
    assert r.datetimestamp == "2016-02-01 00:30:00"
    assert r.s == 1454286600.0  # float64 epoch (reference dtype rule)
    assert dict(out.dtypes)["s"] == "double"


def test_with_derived_columns_dispatcher(spark):
    df = spark.createDataFrame([Row(date_block="2023-01-01", time_block="12:00:00")])
    out = with_derived_columns(df, ["datetimestamp", "datetimestampseconds"],
                               {"date": "date_block", "time": "time_block"})
    assert out.first().datetimestampseconds == 1672574400.0
    with pytest.raises(ValueError):
        with_derived_columns(df, ["unsupported_col"], {})


def test_cyclical_exact_pi(spark):
    # s = 15 s → quarter minute: sin=1, cos≈0 with EXACT π (the reference
    # hard-codes 3.14 — Appendix A.1 divergence, deliberately not replicated)
    df = spark.createDataFrame([Row(s=15.0)])
    r = df.select(*cyclical_minute_hour_day("s")).first()
    assert r.sin_minute == pytest.approx(1.0, abs=1e-12)
    assert r.cos_minute == pytest.approx(0.0, abs=1e-12)
    assert r.sin_day == pytest.approx(math.sin(15 * 2 * math.pi / 86400), abs=1e-15)


def test_seconds_decomposition(spark):
    df = spark.createDataFrame([Row(s=90061.0)])  # 1 day 1 min 1 s + 1 h
    r = df.select(*seconds_to_days_minutes_seconds("s")).first()
    assert (r.days, r.minutes, r.seconds) == (1, 61, 1.0)


def test_synthetic_datetime_even_spacing(spark):
    df = spark.range(5).withColumnRenamed("id", "i")
    out = synthetic_datetime(df, order_by="i", step_seconds=2)
    secs = [r.datetime.second for r in out.orderBy("i").collect()]
    assert secs == [0, 2, 4, 6, 8]


def test_vector_math(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    r = df.select(dot("a", "b").alias("d"), l2_norm("a").alias("n"),
                  cosine_similarity("a", "b").alias("c"),
                  cosine_similarity("a", "a").alias("self")).first()
    assert r.d == 32.0
    assert r.n == pytest.approx(math.sqrt(14))
    assert r.c == pytest.approx(32 / (math.sqrt(14) * math.sqrt(77)))
    assert r.self == pytest.approx(1.0)


def test_cosine_null_safe_on_zero_norm(spark):
    df = spark.createDataFrame([Row(a=[0.0, 0.0], b=[1.0, 1.0])])
    assert df.select(cosine_similarity("a", "b").alias("c")).first().c is None


def test_vectorize_packs_named_columns(spark):
    df = spark.createDataFrame([Row(x=1, y=2.5)])
    r = df.select(vectorize(["x", "y"]).alias("vec")).first()
    assert r.vec == [1.0, 2.5]


def test_epoch_seconds_keeps_subsecond_fraction(spark):
    df = spark.createDataFrame([Row(s="2023-01-01 00:00:00.500")])
    r = df.select(epoch_seconds("s").alias("e")).first()
    assert r.e == 1672531200.5  # unix_timestamp would truncate to .0


def test_stats_profile_matches_numpy(spark):
    """q66's decimal-moment closed forms are real population statistics:
    cross-check covar_pop / stddev_pop / corr against numpy on a fixture
    (the DuckDB oracle only proves engine agreement, not that the formula
    is correlation)."""
    import numpy as np

    from powerdatapipeline_spark.queries import REGISTRY

    rng = np.random.default_rng(3)
    x = rng.uniform(1, 50, 200).round(2)
    y = (3.0 * x + rng.normal(0, 5, 200)).round(2)
    # full lineitem schema: the registry loader validates fixture columns
    # (TABLE_COLUMNS), so a projected fixture would be rejected as drift
    df = spark.createDataFrame(
        [(i, 1, 1, 1, float(a), float(b), 0.0, 0.0, "A", "O",
          "1995-01-01 00:00:00")
         for i, (a, b) in enumerate(zip(x, y))],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate string").withColumn(
            "l_shipdate", F.col("l_shipdate").cast("timestamp"))
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "lineitem.parquet"))
        out = REGISTRY["q66_stats_profile"][0](spark, d).collect()[0]
    assert out.n_rows == 200
    assert abs(out.covar_pop - np.cov(x, y, bias=True)[0][1]) < 1e-4
    assert abs(out.stddev_pop_qty - x.std()) < 1e-4
    assert abs(out.stddev_pop_price - y.std()) < 1e-4
    assert abs(out.corr_qty_price - np.corrcoef(x, y)[0][1]) < 1e-6


# ------------------------------------------------- one-parse vector helpers
def _lambda_dot(a, b):
    prod = F.zip_with(F.col(a), F.col(b),
                      lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _lambda_ddot(a, b):
    prod = F.zip_with(F.col(a), F.col(b),
                      lambda p, q: (p.cast("double") * q.cast("double"))
                      .cast("decimal(28,12)"))
    return F.aggregate(prod, F.lit(0).cast("decimal(38,12)"),
                       lambda acc, v: (acc + v).cast("decimal(38,12)")
                       ).cast("double")


def _lambda_l2_norm(a):
    return F.sqrt(F.aggregate(F.col(a), F.lit(0.0),
                              lambda acc, x: acc + x.cast("double")
                              * x.cast("double")))


def _lambda_cosine(a, b):
    d, na, nb = _lambda_dot(a, b), _lambda_l2_norm(a), _lambda_l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def _lambda_sign_bucket(scores, n_planes, offset=0):
    out = F.lit(0)
    for i in range(n_planes):
        out = out + F.when(F.col(scores)[offset + i] >= 0,
                           F.lit(2 ** i)).otherwise(F.lit(0))
    return out


def _vector_rows(seed=11, n=40, dim=70):
    """Seeded float arrays with negative zeros, zeros, null elements, a
    null array, an all-zero vector and a length mismatch."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        a = [float(np.float32(x)) for x in rng.standard_normal(dim)]
        b = [float(np.float32(x)) for x in rng.standard_normal(dim)]
        for j in rng.integers(0, dim, 4):
            a[j] = -0.0
        b[int(rng.integers(0, dim))] = 0.0
        if i % 7 == 3:
            a[int(rng.integers(0, dim))] = None
        if i % 11 == 5:
            b[int(rng.integers(0, dim))] = None
        rows.append((i, a, b))
    rows.append((n, [0.0] * dim, [-0.0] * dim))
    rows.append((n + 1, None, [1.0] * dim))
    rows.append((n + 2, [1.0, -0.0, 2.0], [3.0, 4.0]))
    return rows


def _bits(v):
    # repr keeps the sign of zero and every bit of a double
    return None if v is None else repr(v)


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_vector_helpers_equal_lambda_forms_bit_for_bit(spark, ansi):
    from powerdatapipeline_spark.functions.vector import ddot, sign_bucket

    df = spark.createDataFrame(_vector_rows(),
                               "id int, a array<float>, b array<float>")
    pairs = [
        (dot("a", "b"), _lambda_dot("a", "b")),
        (dot("a", "a"), _lambda_dot("a", "a")),
        (ddot("a", "b"), _lambda_ddot("a", "b")),
        (l2_norm("a"), _lambda_l2_norm("a")),
        (l2_norm("b"), _lambda_l2_norm("b")),
        (cosine_similarity("a", "b"), _lambda_cosine("a", "b")),
        (sign_bucket("a", 8), _lambda_sign_bucket("a", 8)),
        (sign_bucket("a", 8, 5), _lambda_sign_bucket("a", 8, 5)),
        (sign_bucket("b", 62), _lambda_sign_bucket("b", 62)),
        (sign_bucket("a", 62, 3), _lambda_sign_bucket("a", 62, 3)),
    ]
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        # rows long enough for every index the sign_bucket pairs read
        # (ANSI raises on an out-of-range array index)
        full = df.where(F.size("a") >= 65) if ansi == "true" else df
        out = full.select(
            "id",
            *[new.alias(f"n{k}") for k, (new, _) in enumerate(pairs)],
            *[ref.alias(f"o{k}") for k, (_, ref) in enumerate(pairs)])
        types = dict(out.dtypes)
        rows = out.orderBy("id").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert len(rows) >= 40
    for k in range(len(pairs)):
        assert types[f"n{k}"] == types[f"o{k}"], k
        got = [_bits(r[f"n{k}"]) for r in rows]
        want = [_bits(r[f"o{k}"]) for r in rows]
        assert got == want, k
    # the fixtures reach the edge cases they are there for
    assert any(r["n0"] is None for r in rows)
    assert any(r["n5"] is None for r in rows)
    assert any(r["n8"] is not None and r["n8"] >= 2 ** 31 for r in rows)


def test_vector_helpers_reject_shadowed_names():
    from powerdatapipeline_spark.functions.vector import ddot

    with pytest.raises(ValueError, match="lambda variable"):
        dot("__x", "b")
    with pytest.raises(ValueError, match="lambda variable"):
        ddot("a", "__acc")
    with pytest.raises(TypeError, match="column name"):
        l2_norm(F.col("a"))
