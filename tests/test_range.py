"""Ported from /root/reference/dfpipeline/tests/test_range.py."""
import pandas as pd

import dataframe_pipeline_spark as dfp
from tests.conftest import assert_frames_equal

SEX = ["male", "female", "female", "female", "male", "female", "male", "male", "female", "female"]
C2 = [3.0, 4.0, 6.0, 6.0, 9.0, None, 17.0, 17.0, 20.0, 100.0]
C3 = [300.0, 200.0, 100.0, 20.0, 17.0, 17.0, None, 9.0, 6.0, 6.0]


def _df(spark):
    return spark.createDataFrame(pd.DataFrame({"sex": SEX, "C2": C2}))


def test_range1(spark):
    r = dfp.RangeTransformer(
        inputs=["C2"], outputs=["C2_norm"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "median"},
    )
    out = r.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX, "C2": C2,
        "C2_norm": [-1000.0, -1000.0, -1000.0, -1000.0, 17.0, None, 17.0, 17.0, 17.0, 1000.0],
    }))


def test_range2(spark):
    r = dfp.RangeTransformer(
        inputs=["C2"], outputs=["C2"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "median"},
    )
    out = r.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX,
        "C2": [-1000.0, -1000.0, -1000.0, -1000.0, 17.0, None, 17.0, 17.0, 17.0, 1000.0],
    }))


def test_range2a(spark):
    r = dfp.RangeTransformer(
        inputs=["C2"], outputs=["C2"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "median", (None, None): 0},
    )
    out = r.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX,
        "C2": [-1000.0, -1000.0, -1000.0, -1000.0, 17.0, None, 17.0, 17.0, 17.0, 1000.0],
    }))


def test_range2b(spark):
    r = dfp.RangeTransformer(
        inputs=["C2"], outputs=["C2"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "most_frequent"},
    )
    out = r.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX,
        "C2": [-1000.0, -1000.0, -1000.0, -1000.0, 17.0, None, 17.0, 17.0, 17.0, 1000.0],
    }))


def test_range3(spark):
    r = dfp.RangeTransformer(
        inputs=["C2"], outputs=["C2"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "mean"},
    )
    out = r.fit_transform(_df(spark))
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX,
        "C2": [-1000.0, -1000.0, -1000.0, -1000.0, 15.75, None, 15.75, 15.75, 15.75, 1000.0],
    }))


def test_range4(spark):
    df2 = spark.createDataFrame(pd.DataFrame({"sex": SEX, "C2": C2, "C3": C3}))
    r = dfp.RangeTransformer(
        inputs=["C2", "C3"], outputs=["C2", "C3"],
        dict={(None, 20): 1000, (6, None): -1000, (20, 9): "mean"},
    )
    out = r.fit_transform(df2)
    assert_frames_equal(out, pd.DataFrame({
        "sex": SEX,
        "C2": [-1000.0, -1000.0, -1000.0, -1000.0, 15.75, None, 15.75, 15.75, 15.75, 1000.0],
        "C3": [1000.0, 1000.0, 1000.0, 15.75, 15.75, 15.75, None, 15.75, -1000.0, -1000.0],
    }))


def test_range_statistics_share_one_aggregate(spark, count_jobs):
    """Every mean/median entry of an input comes from one aggregate: two
    median entries launch the jobs of one, with the values each entry
    gets from an aggregate of its own."""
    from pyspark.sql import functions as F

    df = _df(spark)
    one = {(20, 9): "median"}
    two = {(20, 9): "median", (6, None): "median", (None, 20): "mean"}

    def transform(entries):
        r = dfp.RangeTransformer(inputs=["C2"], outputs=["C2_norm"],
                                 dict=entries)
        return r, count_jobs(r.transform, df)[1]

    transform(one)                      # warm
    _, jobs_one = transform(one)
    r, jobs_two = transform(two)
    assert jobs_two == jobs_one
    v = F.when(F.isnan("C2"), None).otherwise(F.col("C2"))
    want = df.agg(F.percentile(F.when((v <= 20) & (v >= 9), v), F.lit(0.5)),
                  F.percentile(F.when(v <= 6, v), F.lit(0.5)),
                  F.mean(F.when(v >= 20, v))).collect()[0]
    assert [r.values_dict[("C2", *k)] for k in two] == list(want)


def test_range_mean_is_correctly_rounded(spark):
    """A ``mean`` replacement is the correctly rounded mean, as
    Imputer's is.  Spark's ``avg`` sums each partition in order, and the
    last partition's 0.5 + 2**-149 rounds to 0.5: it returns 0.0 for a
    mean of 2**-151."""
    xs = [0.0, -0.5, 0.5, 2.0 ** -149]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(x,) for x in xs], 3), "x double")
    r = dfp.RangeTransformer(inputs=["x"], outputs=["y"],
                             dict={(1.0, -1.0): "mean"},
                             use_all_elements=True)
    assert {row.y for row in r.transform(df).collect()} == {2.0 ** -151}
