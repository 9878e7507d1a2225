"""FeatureSpace fit/transform tests (reference datapipeline.py:273-401
semantics: two-phase adapt-then-map, population variance, fixed one-hot
depth, JSON persistence replacing .keras archives)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from powerdatapipeline_spark.features import FeatureSpace, FeatureSpec


def _df(spark):
    rows = [Row(x=float(i), cat=i % 3, name=["a", "b", "c"][i % 3]) for i in range(9)]
    return spark.createDataFrame(rows)


def test_normalized_population_variance(spark):
    df = _df(spark)
    fs = FeatureSpace([FeatureSpec("x", "float", "normalized")]).fit(df)
    # numpy .var() parity = population variance (Appendix A.10)
    assert fs.stats["x"]["mean"] == pytest.approx(4.0)
    assert fs.stats["x"]["var"] == pytest.approx(sum((i - 4) ** 2 for i in range(9)) / 9)
    vals = [r.x for r in fs.transform(df).collect()]
    assert sum(vals) == pytest.approx(0.0, abs=1e-12)


def test_skip_normalization_identity(spark):
    df = _df(spark)
    fs = FeatureSpace([FeatureSpec("x", "float", "normalized",
                                   skip_normalization=True)]).fit(df)
    assert fs.stats["x"] == {"mean": 0.0, "var": 1.0}
    assert [r.x for r in fs.transform(df).orderBy("x").collect()] == [float(i) for i in range(9)]


def test_rescaled_minmax(spark):
    fs = FeatureSpace([FeatureSpec("x", "float", "rescaled")]).fit(_df(spark))
    out = [r.x for r in fs.transform(_df(spark)).orderBy("x").collect()]
    assert out[0] == 0.0 and out[-1] == 1.0


def test_int_onehot_depth(spark):
    fs = FeatureSpace([FeatureSpec("cat", "int", "one_hot", one_hot_depth=5)]).fit(_df(spark))
    out = fs.transform(_df(spark))
    assert [c for c in out.columns] == [f"cat_onehot_{i}" for i in range(5)]
    r = out.collect()[0]
    assert sum(r) == 1.0  # exactly one hot


def test_string_onehot_vocab_sorted(spark):
    df = _df(spark)
    fs = FeatureSpace([FeatureSpec("name", "string", "one_hot")]).fit(df)
    assert fs.stats["name"]["vocab"] == ["a", "b", "c"]
    row = fs.transform(df.where("name = 'b'")).first()
    assert (row.name_onehot_0, row.name_onehot_1, row.name_onehot_2) == (0.0, 1.0, 0.0)


def test_fit_job_count_independent_of_feature_count(spark):
    """k string features must NOT cost k distinct-scan jobs (round-1/2
    finding): everything rides ONE aggregation, so the Spark job count for
    a 1-vocab fit and a 3-vocab fit is identical (AQE may split the single
    query into a fixed number of stage-jobs; what must not happen is
    per-feature growth). Counted through the status tracker via job groups."""
    from pyspark.sql import Row
    df = spark.createDataFrame(
        [Row(x=float(i), a=f"a{i % 3}", b=f"b{i % 4}", c=f"c{i % 2}")
         for i in range(20)])
    sc = spark.sparkContext

    def count_jobs(tag, specs):
        fs = FeatureSpace(specs)
        sc.setJobGroup(tag, "fit job-count assertion")
        try:
            fs.fit(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return fs, len(sc.statusTracker().getJobIdsForGroup(tag))

    _, jobs1 = count_jobs("fit-1vocab", [FeatureSpec("a", "string", "one_hot")])
    fs3, jobs3 = count_jobs("fit-3vocab", [
        FeatureSpec("x", "float", "normalized"),
        FeatureSpec("a", "string", "one_hot"),
        FeatureSpec("b", "string", "one_hot"),
        FeatureSpec("c", "string", "one_hot")])
    assert jobs3 == jobs1, \
        f"3-vocab fit ran {jobs3} jobs vs {jobs1} for 1 vocab — per-feature jobs"
    assert fs3.stats["a"]["vocab"] == ["a0", "a1", "a2"]
    assert fs3.stats["b"]["vocab"] == ["b0", "b1", "b2", "b3"]
    assert fs3.stats["c"]["vocab"] == ["c0", "c1"]


def test_vocab_fit_excludes_nulls(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame([Row(name="a"), Row(name=None), Row(name="b")],
                               schema="name string")
    fs = FeatureSpace([FeatureSpec("name", "string", "one_hot")]).fit(df)
    # a null vocab entry could never match its one-hot comparison — excluded
    assert fs.stats["name"]["vocab"] == ["a", "b"]


def test_cyclical_output_names(spark):
    fs = FeatureSpace([FeatureSpec("x", "datetimestamp_seconds",
                                   "cyclical_minute_hour_day")]).fit(_df(spark))
    assert fs.output_names() == [
        "x_sin_minute", "x_cos_minute", "x_sin_hour", "x_cos_hour",
        "x_sin_day", "x_cos_day"]


def test_json_roundtrip(spark, tmp_path):
    df = _df(spark)
    fs = FeatureSpace([FeatureSpec("x", "float", "normalized"),
                       FeatureSpec("name", "string", "one_hot")]).fit(df)
    p = str(tmp_path / "fs.json")
    fs.save(p)
    fs2 = FeatureSpace.load(p)
    assert fs2.stats == fs.stats
    a = fs.transform(df).collect()
    b = fs2.transform(df).collect()
    assert a == b


def test_decimal_fit_round_trips_through_json(spark, tmp_path):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal(w), Decimal(w)) for w in ("1.000", "2.000", "4.500")],
        "w decimal(10,3), v decimal(10,3)")
    fs = FeatureSpace([FeatureSpec("w", "float", "normalized"),
                       FeatureSpec("v", "float", "rescaled")]).fit(df)
    assert all(type(x) is float
               for st in fs.stats.values() for x in st.values())
    p = str(tmp_path / "fs.json")
    fs.save(p)
    fs2 = FeatureSpace.load(p)
    assert fs2.stats == fs.stats
    assert fs.transform(df).collect() == fs2.transform(df).collect()


def test_transform_before_fit_raises(spark):
    fs = FeatureSpace([FeatureSpec("x", "float", "normalized")])
    with pytest.raises(RuntimeError):
        fs.transform_columns()


def test_unsupported_spec_raises(spark):
    fs = FeatureSpace([FeatureSpec("x", "float", "bogus_mode")])
    fs.fitted = True
    with pytest.raises(ValueError):
        fs.transform_columns()


def test_ml_pipeline_interop(spark):
    """The FeatureSpace composes into a standard pyspark.ml Pipeline:
    estimator fit -> feature columns -> VectorAssembler -> LinearRegression,
    and the fitted pipeline transforms new data. The engine's feature
    expressions (z-score, one-hot) feed ml.linalg vectors unchanged."""
    from pyspark.ml import Pipeline
    from pyspark.ml.regression import LinearRegression

    from powerdatapipeline_spark.features.ml_interop import (
        FeatureSpaceEstimator,
        FeatureSpaceModel,
        assemble_vector,
    )

    df = spark.createDataFrame(
        [Row(x=float(i), cat="a" if i % 2 == 0 else "b",
             label=2.0 * i + (1.0 if i % 2 == 0 else 0.0))
         for i in range(40)])
    specs = [FeatureSpec("x", "float", "normalized"),
             FeatureSpec("cat", "string", "one_hot")]
    est = FeatureSpaceEstimator(specs, keep=["label"])
    fsm = est.fit(df)
    assert isinstance(fsm, FeatureSpaceModel)
    names = fsm.output_names()
    assert names == ["x", "cat_onehot_0", "cat_onehot_1"]

    pipe = Pipeline(stages=[
        FeatureSpaceEstimator(specs, keep=["label"]),
        assemble_vector(names),
        LinearRegression(featuresCol="features", labelCol="label",
                         regParam=0.0)])
    model = pipe.fit(df)
    preds = model.transform(df.limit(5))
    assert preds.count() == 5
    rows = preds.select("label", "prediction").collect()
    # the relationship is exactly linear in (x, one-hot cat): near-exact fit
    assert all(abs(r.label - r.prediction) < 1e-3 for r in rows)
    # estimator stays stateless: a second fit on shifted data refits stats
    df2 = df.withColumn("x", F.col("x") + 100.0)
    m2 = FeatureSpaceEstimator(specs).fit(df2)
    assert abs(m2.feature_space.stats["x"]["mean"]
               - (fsm.feature_space.stats["x"]["mean"] + 100.0)) < 1e-9
